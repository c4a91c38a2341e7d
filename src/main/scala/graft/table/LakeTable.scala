package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.CoreOps

/** Lakehouse table layer over partitioned parquet (SURVEY.md §7.3).
  *
  * The environment has no Delta/Iceberg jar, so the reference's Delta
  * mechanics (jobs/order_glue_job.py:149-158) are provided here:
  *  - K1 partitioned first-load write
  *  - K2 MERGE upsert (WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED INSERT
  *    ALL) emulated as anti-join + unionByName, written to a staging dir
  *    and published via an atomic pointer swap — idempotent rerun without
  *    ACID
  *  - K3 table-exists probe choosing create vs merge
  *
  * Publishing is POINTER-based (a one-line `CURRENT` file naming the live
  * version directory, replaced with a single atomic rename) — the Delta/
  * Iceberg manifest-commit pattern in miniature. Readers resolve the
  * pointer first, so they see either the old version or the new one; there
  * is no instant at which the table is unreadable, and a crash at any step
  * of a write leaves the previous pointer and its data fully intact.
  *
  * Scale notes: the anti-join shuffles on the merge key exactly as Delta's
  * own MERGE does. The unit of a row-level rewrite is the data FILE
  * (Delta's file-pruned MERGE/UPDATE/DELETE). Every version dir of an
  * unpartitioned table carries a `_files` sidecar with each data file's
  * row count and leading-merge-key [min, max], read from the parquet
  * footers of the files a commit wrote and carried over for the files it
  * hard-linked. Such a table holding more than [[LakeTable.RowsPerFile]]
  * rows keeps one key range per file; a DML rewrites only the files
  * whose ranges can hold a key it touches and hard-links the rest. A partitioned table rewrites the
  * files of the partitions it touches (`prunePartitions`), which is the
  * same file set computed from partition values. Partition columns should
  * be string/date/integral-valued; null partition values are handled via
  * Hive's `__HIVE_DEFAULT_PARTITION__` convention.
  *
  * `partitionsFromKeys` is a caller ASSERTION that every partition
  * column's value is a pure function of the merge keys (the
  * hash-bucket layouts: DedupIndex's `__ib`, [[DocBuckets]]' `__db`).
  * Under it the pruned MERGE skips its matched-key target scan — the
  * one remaining O(table) term of a small-batch merge (column-pruned
  * to keys + partition columns, but still a full-table read) — because
  * a matched row shares the keys and therefore the derived partition.
  * Asserting it for a layout where a key's partition CAN change (e.g.
  * a date-partitioned table with corrected dates, or AnnIndex's
  * cell-partitioned inverted file) strands the stale row in its old
  * partition and silently breaks merge-key uniqueness — only set it
  * for genuinely key-derived layouts.
  */
final class LakeTable(private val spark: SparkSession, private val root: String,
    private val name: String, mergeKeys: Seq[String],
    private val partitionCols: Seq[String] = Nil,
    keepVersions: Int = 2, changeFeed: Boolean = false,
    partitionsFromKeys: Boolean = false) {
  import LakeTable.{deleteRecursively, listing}

  private val HiveNullPart = "__HIVE_DEFAULT_PARTITION__"

  private def tableDir: Path = Paths.get(root, name)

  /** The table's directory (all versions live under it) — the identity
    * key optimizer-side consumers (e.g. the materialized-view rewrite
    * catalog) use to recognize scans of this table. */
  def tablePath: String = tableDir.toString

  private def pointerFile: Path = tableDir.resolve("CURRENT")
  private def stagingDir: Path = Paths.get(root, s".staging_$name")
  private def feedStagingDir: Path = Paths.get(root, s".staging_changes_$name")
  private def versionDir(v: Int): Path = tableDir.resolve(s"v$v")
  private def feedDir(v: Int): Path =
    tableDir.resolve("changes").resolve(s"v$v")

  /** Resolve the CURRENT pointer. "Pointer absent" (None — the table
    * was never published) and "pointer unreadable/unparseable" are
    * deliberately DIFFERENT outcomes: a damaged pointer fails loudly
    * everywhere instead of masquerading as an empty table, because the
    * silent interpretation is catastrophic — publish() would take
    * cur = 0 and reclaim EVERY live version dir as a "beyond-pointer
    * orphan" (and readChangeFeedStream would sweep every recorded
    * feed), turning a recoverable one-line-file corruption into total
    * data loss. Repair is manual by design: point CURRENT at the
    * latest good version dir. */
  private def currentVersion: Option[Int] =
    if (!Files.exists(pointerFile)) None
    else {
      val raw = Files.readString(pointerFile).trim
      Some(scala.util.Try(raw.stripPrefix("v").toInt).getOrElse(
        throw new IllegalStateException(
          s"table $name: CURRENT pointer exists but cannot be parsed " +
            s"('$raw') — refusing to guess; repair it to point at the " +
            "latest good version dir (treating it as absent would " +
            "reclaim every live version as an orphan)")))
    }

  /** K3 — exists probe (filesystem analogue of DeltaTable.isDeltaTable). */
  def exists: Boolean = currentVersion.exists(v => Files.isDirectory(versionDir(v)))

  /** Currently-published version number — the snapshot id a consumer
    * should RECORD when it syncs to this table (and later pass to
    * [[changesSince]]), instead of re-deriving it from
    * [[availableVersions]] after the fact: the oldest RETAINED version
    * shifts forward as writes prune history, so `availableVersions.min`
    * silently stops being "the version I synced at" after enough
    * writes, while the recorded number either still works or fails
    * loudly in [[readVersion]]'s retention check. */
  def version: Int = currentVersion.getOrElse(
    throw new IllegalStateException(s"table $name has no published version"))

  // ---- write-time Change Data Feed (Delta CDF analogue) ----
  //
  // With `changeFeed` on, every row-level DML write stages the rows it
  // changes — typed insert / update_preimage / update_postimage /
  // delete, the SAME types and change-detection hash as the snapshot
  // diff below — and publish() moves them to `changes/v{N}` for the
  // version the write produced. changesSince() then answers from the
  // recorded feeds in O(changes) instead of key-shuffling two full
  // snapshots, and KEEPS answering after retention has pruned the old
  // snapshot — the two properties that make incremental consumers
  // viable on a 100 TB base, where a snapshot diff is a full-table job
  // and retention is aggressive. Layout-only writes (compact, Z-order)
  // record an EMPTY feed so coverage stays contiguous; upsertScd2
  // records none (its bookkeeping rewrites aren't row-level change
  // events), which just falls changesSince back to the snapshot diff
  // across that span. Feed dirs survive version pruning deliberately:
  // they ARE the CDC log.
  //
  // Semantics note (matches Delta CDF): the feed is a PER-VERSION
  // event log, the snapshot diff a NET endpoint comparison. Over a
  // single write they are identical; over multiple writes the feed may
  // contain canceling events (insert then delete of the same key)
  // whose signed composition nets to exactly the snapshot diff — which
  // is what delta-rule consumers (IncrementalView) apply anyway.

  // ---- transactional per-version metadata ----
  //
  // A tiny `_meta.json` (flat string map) lives INSIDE each version
  // dir — invisible to parquet readers (underscore prefix), carried
  // forward by every write, and swapped atomically WITH the data it
  // was committed alongside. This is the hook for Delta's
  // txnAppId/txnVersion pattern: a foreachBatch consumer records its
  // last-applied batch id in the SAME commit as the rows it applied,
  // so a crash between "apply" and "remember" is impossible and
  // at-least-once delivery yields exactly-once table state
  // (Streams.maintainSumViewStream uses it).

  /** The current version's committed metadata (empty before any
    * meta-carrying write). */
  def meta: Map[String, String] =
    if (!exists) Map.empty else readMeta(currentDir)

  private def readMeta(dir: Path): Map[String, String] = {
    val f = dir.resolve("_meta.json")
    if (!Files.exists(f)) Map.empty
    else {
      val txt = Files.readString(f)
      val pair = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      pair.findAllMatchIn(txt)
        .map(m => unescapeJson(m.group(1)) -> unescapeJson(m.group(2)))
        .toMap
    }
  }

  private def writeMeta(dir: Path, m: Map[String, String]): Unit =
    if (m.nonEmpty) {
      val body = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${escapeJson(k)}":"${escapeJson(v)}"""" }
        .mkString("{", ",", "}")
      Files.writeString(dir.resolve("_meta.json"), body)
    }

  private def escapeJson(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unescapeJson(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  /** Nullability-free schema rendering used both as the fp-file content
    * and as the footer-probe fallback key — the two MUST render
    * identically so a mixed span (old dirs without the file, new dirs
    * with it) still groups into one epoch. */
  private def schemaFingerprint(st: org.apache.spark.sql.types.StructType): String =
    st.map(f => s"${f.name}:${f.dataType.sql}").mkString("|")

  /** Parse a fingerprint back into the (nullable-widened) schema it was
    * rendered from, or None when the roundtrip is not lossless (a
    * column name containing ':' or '|', a pre-fp footer-derived key
    * that fails to re-render) — the caller then falls back to the
    * footer probe. Lossless-roundtrip-checked so the fast path can
    * never serve a schema the footer probe would not have. */
  private def schemaFromFingerprint(fp: String):
      Option[org.apache.spark.sql.types.StructType] =
    try {
      import org.apache.spark.sql.types.{DataType, StructField, StructType}
      val fields = fp.split('|').toIndexedSeq.map { seg =>
        val i = seg.indexOf(':')
        require(i > 0, s"no type in '$seg'")
        StructField(seg.substring(0, i),
          DataType.fromDDL(seg.substring(i + 1)))
      }
      val st = StructType(fields)
      if (schemaFingerprint(st) == fp) Some(st) else None
    } catch { case _: Throwable => None }

  /** Typed upsert events of `source` against `target`, a cut of the
    * current version that holds every row matching a source key (the
    * feed join only consults those). */
  private def upsertFeedEvents(source: DataFrame, target: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{array, explode, lit, struct, when, xxhash64}
    val allCols = (target.columns ++
      source.columns.filterNot(target.columns.contains)).toIndexedSeq
    val dtypes = (target.schema ++ source.schema)
      .map(f => f.name -> f.dataType).toMap
    def align(df: DataFrame) = df.select(allCols.map { c =>
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(dtypes(c)).as(c)
    }: _*)
    val nonKey = allCols.filterNot(mergeKeys.contains)
    def hashed =
      if (nonKey.isEmpty) lit(0L) else xxhash64(nonKey.map(col): _*)
    def packed(df: DataFrame, row: String, h: String) = align(df).select(
      mergeKeys.map(col) :+ struct(allCols.map(col): _*).as(row) :+
        hashed.as(h): _*)
    packed(source, "__s", "__hs")
      .join(packed(target, "__t", "__ht"), mergeKeys, "left")
      .filter(col("__ht").isNull || col("__hs") =!= col("__ht"))
      .select(explode(
        when(col("__ht").isNull,
          array(struct(col("__s").as("r"), lit("insert").as("ct"))))
        .otherwise(array(
          struct(col("__s").as("r"), lit("update_postimage").as("ct")),
          struct(col("__t").as("r"), lit("update_preimage").as("ct")))))
        .as("__e"))
      .selectExpr("__e.r.*", "__e.ct AS _change_type")
  }

  /** Target cut to the source's partition `tuples` — LOSSLESS for
    * key-lookup purposes when `partitionsFromKeys` holds (a matched
    * target row shares the merge keys, hence the derived partition
    * value); the identity otherwise (and `tuples` is never evaluated).
    * The predicate references only partition columns, so it prunes at
    * the source via driver-side partition evaluation. Without it every
    * change-feed write of a key-derived layout would pay a full-table
    * read just to stage its feed. */
  private def prunedToSourceParts(target: DataFrame,
      tuples: => Seq[Seq[Option[String]]]): DataFrame =
    if (!partitionsFromKeys || partitionCols.isEmpty) target
    else {
      import org.apache.spark.sql.functions.lit
      val pred = tuples.map { tup =>
        partitionCols.zip(tup).map {
          case (c, Some(v)) => col(c).cast("string") === lit(v)
          case (c, None)    => col(c).isNull
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
      target.filter(pred)
    }

  /** The source's distinct partition-column tuples — one bounded
    * batch-sized collect (null AND empty string fold to None, Spark's
    * partition-writer rule). */
  private def sourcePartTuples(source: DataFrame): Seq[Seq[Option[String]]] =
    source.select(partitionCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partitionCols.indices
        .map(i => Option(r.getString(i)).filter(_.nonEmpty)))
      .toSeq

  /** Directory holding the currently-published version's data files. */
  def currentDir: Path = versionDir(currentVersion.getOrElse(
    throw new IllegalStateException(s"table $name has no published version")))

  def read: DataFrame = readDir(currentDir)

  /** Read a version dir, surviving the EMPTY-PARTITIONED-TABLE case:
    * Spark's partitioned writer emits NO data files for an empty frame
    * (there are no partition values to create directories for), so a
    * later scan has nothing to infer a schema from — unlike an empty
    * UNPARTITIONED write, which emits one schema-bearing file. Every
    * write therefore stages a `_schema_ddl` sidecar (underscore file,
    * invisible to parquet readers) and this fallback serves the empty
    * snapshot with the committed schema. A partitioned table whose
    * first publish is empty is perfectly legal lakehouse state (an
    * index built over a corpus with no matches yet — DedupIndex's
    * pairs under `pairParts`).
    *
    * The empty case is detected UP FRONT (no partition dirs and no
    * data files) rather than by catching the inference failure: the
    * failed read would first surface as an ERROR-level
    * UNABLE_TO_INFER_SCHEMA stack trace through the listener bus —
    * alarming log noise for a designed, legal state.
    *
    * NON-empty dirs are ALSO served from the committed sidecar
    * ([[declaredRead]]): every version dir carries its `_schema_ddl`,
    * so re-inferring the schema from parquet footers on every [[read]]
    * call (~70 ms of driver-side footer I/O per call, measured round
    * 16 — paid 10-40x per lakehouse composite) buys nothing. This is
    * the Delta/Iceberg reader contract — the schema comes from the
    * committed table metadata, never from data-file inference. The
    * frame is constructed to be indistinguishable from the inferred
    * one: inference orders data columns (file order = staged-frame
    * order) before partition columns and reports every field nullable,
    * so the fast path reorders the DDL fields the same way and
    * nullable-widens. */
  private def readDir(dir: Path): DataFrame = {
    val ddl = dir.resolve("_schema_ddl")
    def schemaRead: DataFrame =
      spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          Files.readString(ddl)))
        .parquet(dir.toString)
    def hasDataFiles: Boolean = {
      val s = Files.list(dir)
      try s.anyMatch(p => Files.isDirectory(p) ||
        p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    if (Files.exists(ddl)) {
      if (!hasDataFiles) schemaRead else declaredRead(dir, ddl)
    } else spark.read.parquet(dir.toString) // pre-sidecar dirs: infer
  }

  /** Inference-free read of a non-empty version dir from its committed
    * `_schema_ddl` (see [[readDir]]). Falls back to footer inference
    * only when the sidecar does not cover this handle's partition
    * columns (a foreign/legacy layout this handle cannot reorder). */
  private def declaredRead(dir: Path, ddl: Path): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val full = StructType.fromDDL(Files.readString(ddl))
    if (!partitionCols.forall(full.fieldNames.contains))
      return spark.read.parquet(dir.toString)
    val ordered =
      if (partitionCols.isEmpty) full.fields.toSeq
      else full.fields.toSeq.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(c => full.fields(full.fieldIndex(c)))
    spark.read.schema(StructType(ordered.map(_.copy(nullable = true))))
      .parquet(dir.toString)
  }

  /** Resolve the CURRENT snapshot ONCE and return (frame over that
    * version dir, THAT dir's committed meta), or None when the table
    * has no published version. [[read]] and [[meta]] each re-resolve
    * the pointer independently, so a consumer that validates metadata
    * and then reads — the MV rewrite's freshness check — has a
    * check-then-read race under a concurrent publish: the meta it
    * validated and the snapshot it scans can come from different
    * versions. This closes it: both come from one pointer resolution,
    * and the version dir itself is immutable once published. */
  def pinnedSnapshot: Option[(DataFrame, Map[String, String])] =
    currentVersion.filter(v => Files.isDirectory(versionDir(v))).map { v =>
      val dir = versionDir(v)
      (readDir(dir), readMeta(dir))
    }

  /** K1 — first-load create: partitioned overwrite. On an existing
    * table this is DDL-replace: data AND committed metadata reset
    * (constraints included, matching the CHECK-constraints doc below)
    * — the one write path that deliberately does NOT carry `_meta.json`
    * forward. `meta` (e.g. a layout-freeze key) commits ATOMICALLY with
    * the first version: create-then-annotate has a crash window that
    * leaves the table WITHOUT its frozen keys, and the layout guards'
    * absent-key tolerance (forall) would then silently accept a
    * mismatched instance. */
  def create(df: DataFrame, meta: Map[String, String] = Map.empty): Unit =
    LakeTable.commitFused(Seq(pendingCreate(df, meta)))

  /** [[create]] as a pending — also the implicit-create path of a merge
    * into a not-yet-existing table, where the `meta` map must land WITH
    * the first version, not be silently discarded: a streaming
    * maintainer's exactly-once batch marker dropped here would make the
    * next drain re-apply the whole batch (double-counting the view it
    * just created). A create records no change feed (coverage starts
    * after the created version). */
  private[graft] def pendingCreate(df: DataFrame,
      meta: Map[String, String] = Map.empty): LakeTable.Pending =
    LakeTable.Pending(this, clustered(df), None, meta)

  /** Fail like Delta's multiple-source-rows-matched error when a merge
    * source carries more than one row per merge key. The guard RIDES
    * the merge pass instead of probing: a per-key window count folded
    * into the key column itself, so every consumer of the source (the
    * anti-join's key build, the survivors' write, the staged feed)
    * trips it on the offending rows — one delta-sized shuffle inside
    * jobs that already run, not an extra job re-executing the source
    * lineage (a separate `groupBy.limit(1).collect()` probe measured
    * +0.15-0.7 s per merge on the bench's lakehouse queries). */
  private def guardUniqueSourceKeys(df: DataFrame, op: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{concat_ws, count, lit, raise_error, when}
    val k = mergeKeys.head
    val dup = count(lit(1)).over(Window.partitionBy(mergeKeys.map(col): _*))
    df.withColumn(k,
      when(dup > 1L, raise_error(concat_ws("",
        lit(s"$op into table $name: source has multiple rows for merge " +
          s"key (${mergeKeys.mkString(", ")}) = ("),
        concat_ws(", ", mergeKeys.map(c => col(c).cast("string")): _*),
        lit(") — a merge source must be unique on the merge keys " +
          "(Delta's multiple-source-rows-matched error)")))
        .cast(df.schema(k).dataType))
      .otherwise(col(k)))
  }

  /** K2 — MERGE upsert. `source` must already be deduplicated on
    * `mergeKeys` (every reference job guarantees this before merging).
    *
    * merged = (target ⟕̸ source on keys)  ∪  source
    * i.e. unmatched target rows survive, matched ones are replaced by the
    * source row (UPDATE ALL), unmatched source rows are inserted.
    *
    * Copy-on-write at FILE granularity, like Delta's MERGE: only the data
    * files that can hold a source key are rewritten, every other file of
    * the current version is HARD-LINKED into the new one (metadata-only,
    * no data copied — the POSIX analogue of manifest-level file reuse),
    * so MERGE cost is sub-linear in table size and every prior version
    * stays a complete, readable snapshot.
    *  - Unpartitioned, more than [[LakeTable.RowsPerFile]] rows: each file
    *    holds one range of the leading merge key (the `_files` sidecar
    *    records it). One job over the source (cached, so its lineage runs
    *    once) finds the ranges its keys fall in; those files are rewritten
    *    with their survivors plus the source rows of their ranges, and a
    *    key above the table's max extends the tail file. A rewritten range
    *    grown past RowsPerFile splits into equal-width sub-ranges. A file
    *    without recorded stats is always rewritten.
    *  - Unpartitioned, at most RowsPerFile rows: the whole table rewrites
    *    (no added job, no shuffle).
    *  - Partitioned, `prunePartitions` (default ON, Delta MERGE's partition
    *    pruning): the files of the partitions the source touches are
    *    rewritten, the files of every other partition hard-link.
    *
    * `meta` entries are merged into the table's committed metadata in
    * the SAME atomic publish as the merged rows (see the metadata
    * section above) — the transactional hook for exactly-once
    * incremental consumers. */
  def upsert(df: DataFrame, prunePartitions: Boolean = true,
      meta: Map[String, String] = Map.empty): Unit =
    LakeTable.commitFused(Seq(
      pendingMerge(df, None, meta, prunePartitions, None, None)))

  /** MERGE with `WHEN MATCHED AND <deleteWhen> THEN DELETE` semantics
    * in ONE atomic publish: rows of `df` satisfying `deleteWhen`
    * REMOVE their matching target rows; all other rows UPDATE/INSERT
    * exactly like [[upsert]]. A NULL `deleteWhen` row upserts (SQL
    * condition semantics).
    *
    * Divergence from a literal Delta three-clause MERGE: a delete-
    * marked row NEVER inserts — an UNMATCHED `df` row satisfying
    * `deleteWhen` is dropped, where Delta's unconditioned
    * `WHEN NOT MATCHED THEN INSERT ALL` would insert it (the matched-
    * only delete condition does not shield not-matched rows there).
    * This API is therefore `WHEN MATCHED AND deleteWhen THEN DELETE /
    * WHEN MATCHED THEN UPDATE ALL / WHEN NOT MATCHED AND NOT
    * deleteWhen THEN INSERT ALL` — the shape every incremental-view
    * extinction path wants (an n<=0 group must vanish whether or not
    * the view currently stores it, never be inserted as a zombie).
    *
    * This is the commit shape an exactly-once incremental consumer
    * needs when one batch both changes groups and extinguishes them:
    * the surviving rows, the removals, and the `meta` marker land in
    * the SAME pointer swap. The upsert-then-delete alternative has a
    * crash window — the marker commits with the upsert, the delete is
    * a second commit, and a crash between them strands the zero-count
    * rows forever because the replayed batch is skipped by its marker
    * (found by the round-9 audit of the streaming IVM maintainers).
    *
    * Cost: identical to [[upsert]] — one anti-join of the target
    * against `df`'s keys plus the survivors' union; deletions ride the
    * SAME anti-join (a deleted key is simply not re-inserted), so
    * extinction adds no extra pass. The rewrite is file-granular exactly
    * like [[upsert]] (only files that can hold `df` keys — deletions
    * included — are rewritten; the rest hard-link), which is what lets
    * a bucket-partitioned IVM auxiliary table absorb per-batch merges
    * at O(touched buckets) instead of a full rewrite.
    *
    * `matchedPartsHint`: a caller-supplied frame of partition-column
    * tuples ASSERTED to cover every target partition holding a row
    * whose merge key appears in `df` — it replaces clause (b)'s
    * column-pruned-but-O(table) matched-key scan in the pruned merge.
    * Use when a cheaper authority for the matched rows' partitions
    * exists (DedupIndex derives the postings sidecar's old-bucket
    * partitions from the id-pruned packed index — an O(batch) read).
    * An INCOMPLETE hint strands stale matched rows in unrewritten
    * partitions and silently breaks merge-key uniqueness — same
    * caller-assertion severity as `partitionsFromKeys`. Ignored for
    * unpartitioned tables and unpruned merges. */
  def upsertWithDelete(df: DataFrame,
      deleteWhen: org.apache.spark.sql.Column,
      meta: Map[String, String] = Map.empty,
      prunePartitions: Boolean = true,
      matchedPartsHint: Option[DataFrame] = None): Unit =
    LakeTable.commitFused(Seq(pendingUpsertWithDelete(df, deleteWhen, meta,
      prunePartitions, matchedPartsHint)))

  /** [[upsertWithDelete]] as a pending, for callers that commit several
    * tables in one [[LakeTable.commitFused]] batch.
    *
    * `touchedPartsHint`: the caller-supplied COMPLETE touched partition
    * set of a single-partition-column table — raw column values, None =
    * the null partition — ASSERTED to equal sourceParts ∪ matchedParts
    * (the two clauses of [[touchedParts]]). Replaces the merge's
    * touched-set collect job outright: the index maintainers already
    * hold the batch's bucket sets from one fused driver collect, and
    * re-deriving the identical set per merge cost one driver round-trip
    * each. An INCOMPLETE hint has exactly matchedPartsHint's failure
    * mode (stale rows stranded in unrewritten partitions) PLUS the
    * dual: a touched partition the staged write leaves empty vanishes
    * from the new version — same caller-assertion severity, only pass
    * provably-exact sets (key-derived layouts, where the source's
    * partition values are a pure function of the batch ids). */
  private[graft] def pendingUpsertWithDelete(df: DataFrame,
      deleteWhen: org.apache.spark.sql.Column,
      meta: Map[String, String] = Map.empty,
      prunePartitions: Boolean = true,
      matchedPartsHint: Option[DataFrame] = None,
      touchedPartsHint: Option[Seq[Option[String]]] = None): LakeTable.Pending = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    // Delta parity (multiple-source-rows-matched error): a source
    // carrying more than one row per merge key — in particular a
    // SURVIVOR and a DELETE-marked row for the same key — would both
    // break key uniqueness in the target and stage a self-
    // contradictory change feed (a delete pre-image AND update
    // pre/post events for the same target row, double-subtracting in
    // any IVM consumer). Internal callers feed one row per key by
    // construction (groupBy output); the public path must fail
    // loudly, not corrupt silently.
    pendingMerge(guardUniqueSourceKeys(df, "upsertWithDelete"),
      Some(coalesce(deleteWhen, lit(false))), meta, prunePartitions,
      matchedPartsHint, touchedPartsHint)
  }

  /** The one MERGE builder behind [[upsert]] (`del` = None: no
    * uniqueness guard, no delete clause, no delete-feed branch) and
    * [[upsertWithDelete]]. The touched set is a set of the current
    * version's files; every other file hard-links.
    *
    * Key ranges (unpartitioned tables above RowsPerFile rows): the
    * candidates are the files of every range holding a source key plus
    * every file without stats — a superset of the files holding a
    * matched key, because ranges hold every key of their files.
    *
    * Partitions: the touched set is the files of (a) every partition the
    * source writes into, UNION (b) every partition holding a target row
    * whose merge key appears in the source. (b) is what makes pruning
    * safe: a key whose partition value changed between target and source
    * (e.g. an order's date corrected) must have its OLD partition
    * rewritten too, or the stale row survives and MERGE key uniqueness
    * breaks. Delta's MERGE matches keys across all partitions for the
    * same reason. A deleted key's target partitions are exactly clause
    * (b)'s, so they rewrite (without the deleted row). Under
    * `partitionsFromKeys` (b) ⊆ (a) is a theorem and the batch's
    * partition tuples — collected at most ONCE per DML — serve the
    * touched set and both feed cuts. */
  private def pendingMerge(src: DataFrame,
      del: Option[org.apache.spark.sql.Column], meta: Map[String, String],
      prunePartitions: Boolean, matchedPartsHint: Option[DataFrame],
      touchedPartsHint: Option[Seq[Option[String]]]): LakeTable.Pending = {
    require(touchedPartsHint.isEmpty || partitionCols.size == 1,
      s"table $name: touchedPartsHint is single-partition-column only")
    if (!exists) return pendingCreate(del.fold(src)(d => src.filter(!d)), meta)
    val op = if (del.isEmpty) "upsert" else "upsertWithDelete"
    val donor = currentDir
    def merge(source: DataFrame, cut: DataFrame, feedTarget: DataFrame) = {
      val survivors = del.fold(source)(d => source.filter(!d))
      enforceConstraints(survivors, op)
      val merged = CoreOps.antiJoin(mergeKeys, source)(cut)
        .unionByName(survivors, allowMissingColumns = true)
      // feed reads still resolve the old pointer (publish comes after)
      (merged, Option.when(changeFeed)(del.fold(upsertFeedEvents(source, feedTarget))(
        feedEventsWithDeletes(source, _, feedTarget))))
    }
    keyRanges(donor) match {
      case Some(kr) if kr.single =>
        // one range (a load not yet clustered): every file is a candidate
        // and no probe is needed; the rewrite splits it into key ranges
        val (merged, feed) = merge(src, read, read)
        pendingWrite(kr.slotted(merged, kr.sizedFiles(kr.touched(Set(0)))), feed, meta, None)
      case Some(kr) =>
        // the source feeds two jobs (the candidate probe, then the
        // write): cached, so its lineage — and any Observation on it —
        // runs once
        val cached = src.storageLevel == org.apache.spark.storage.StorageLevel.NONE
        val source = if (cached) src.cache() else src
        val sized = kr.sourceHits(source)
        val touched = kr.touched(sized.keySet)
        val cut = inFiles(read, touched)
        val (merged, feed) = merge(source, cut, cut)
        pendingWrite(kr.slotted(merged, sized), feed, meta, Some(touched),
          () => if (cached) source.unpersist())
      case None =>
        val target = read
        lazy val srcTuples = sourcePartTuples(src)
        val parts = Option.when(prunePartitions && partitionCols.nonEmpty)(
          touchedPartsHint match {
            case Some(vs) => vs.map(v => encDriver(Seq(v))).toSet
            case None if partitionsFromKeys => srcTuples.map(encDriver).toSet
            case None => touchedParts(src, target, matchedPartsHint)
          })
        val (merged, feed) = merge(src, inParts(target, parts),
          prunedToSourceParts(target, srcTuples))
        pendingWrite(merged, feed, meta, parts.map(filesInParts(donor, _)))
    }
  }

  /** Feed for a merge-with-delete batch: survivors produce the usual
    * typed upsert events; deletions emit the matched TARGET rows
    * (pre-delete images) as delete events — keys in `df` with no
    * target match are no-ops, like SQL DELETE. `target` holds every
    * current row matching a `df` key (see [[upsertFeedEvents]]). */
  private def feedEventsWithDeletes(df: DataFrame,
      del: org.apache.spark.sql.Column, target: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val deletedKeys = df.filter(del).select(mergeKeys.map(col): _*).distinct()
    val delEvents = target
      .join(deletedKeys, mergeKeys, "left_semi")
      .withColumn("_change_type", lit("delete"))
    upsertFeedEvents(df.filter(!del), target)
      .unionByName(delEvents, allowMissingColumns = true)
  }

  /** Injective partition-tuple → string encoding used ONLY for set
    * membership (both sides use URLEncoder conventions, so it need not
    * match the Hive directory escaping): each value url-encoded, null
    * AND empty string → __HIVE_DEFAULT_PARTITION__ (Spark's partition
    * writer folds "" into the null partition), components joined with
    * '/'. `encTuple` is the frame-side expression (references only
    * partition columns — prunes at the source), `encDriver` the
    * driver-side twin over decoded directory values. */
  private def encTuple: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, concat_ws, length, lit, url_encode, when}
    concat_ws("/", partitionCols.map { c =>
      val sc = col(c).cast("string")
      coalesce(when(length(sc) === 0, lit(HiveNullPart))
        .otherwise(url_encode(sc)), lit(HiveNullPart))
    }: _*)
  }

  private def encDriver(tup: Seq[Option[String]]): String = tup.map {
    case Some(v) if v.nonEmpty => java.net.URLEncoder.encode(v, "UTF-8")
    case _                     => HiveNullPart
  }.mkString("/")

  /** Bounded driver-side collect: partition-VALUE tuples, not rows —
    * source partitions ∪ matched-key target partitions in ONE action.
    * Clause (b) comes from the hint when the caller supplied a cheaper
    * authority (see [[upsertWithDelete]]), else from one column-pruned
    * scan of the target's key+partition columns — sub-linear in table
    * bytes, the analogue of Delta's touched-file discovery join. */
  private def touchedParts(source: DataFrame, target: DataFrame,
      matchedPartsHint: Option[DataFrame]): Set[String] = {
    val matchedParts = matchedPartsHint.getOrElse(target
      .join(source.select(mergeKeys.map(col): _*).distinct(),
        mergeKeys, "left_semi"))
    source.select(encTuple.as("__p"))
      .unionByName(matchedParts.select(encTuple.as("__p"))).distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** The data files (relative to version dir `dir`, whose frame `df`
    * is) holding >= 1 row matching `cond` — one bounded collect of
    * `_metadata.file_path` (a DELETE/UPDATE's touched set). */
  private def filesMatching(dir: Path, df: DataFrame,
      cond: org.apache.spark.sql.Column): Set[String] = {
    val base = dir.toAbsolutePath.normalize
    df.filter(cond).select(col("_metadata.file_path")).distinct().collect()
      .map(r => base.relativize(Paths.get(new java.net.URI(r.getString(0)))).toString)
      .toSet
  }

  /** The [[encDriver]] encoding of the partition a data file (relative
    * to its version dir) lies in. The Hive layout nests one
    * `<pcol>=<escaped value>` dir per partition column, null as
    * __HIVE_DEFAULT_PARTITION__. */
  private def partOf(file: String): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    encDriver(file.split('/').toSeq.init.map { d =>
      val raw = d.split("=", 2)(1)
      if (raw == HiveNullPart) None else Some(ExternalCatalogUtils.unescapePathName(raw))
    })
  }

  /** The data files of version dir `dir` in the partitions `parts`. */
  private def filesInParts(dir: Path, parts: Set[String]): Set[String] =
    LakeTable.dataFiles(dir).filter(f => parts.contains(partOf(f))).toSet

  /** `df` cut to the partitions `parts` (all of it when unpruned) — a
    * partition-column predicate, pruned at the source. */
  private def inParts(df: DataFrame, parts: Option[Set[String]]): DataFrame =
    parts.fold(df)(t => df.filter(encTuple.isin(t.toSeq: _*)))

  /** An unpartitioned version's frame `df` cut to the data files `files`
    * — a `_metadata.file_name` predicate, which Spark applies when it
    * lists the files, so only those files are read. */
  private def inFiles(df: DataFrame, files: Set[String]): DataFrame =
    df.filter(col("_metadata.file_name").isin(files.toSeq: _*))

  /** Hard-link the donor version's `files` (and their checksum files)
    * into staging: metadata-only (no bytes copied), and because hard
    * links survive unlinking of the original path, the donor stays a
    * complete snapshot and version pruning can delete old dirs safely.
    * Each file keeps its relative path, so a file of an untouched
    * partition stays in that partition. */
  private def linkUntouched(donor: Path, files: Seq[String]): Unit =
    files.foreach { f =>
      val src = donor.resolve(f)
      val dst = stagingDir.resolve(f)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, src)
      val crc = src.resolveSibling(s".${src.getFileName}.crc")
      if (Files.exists(crc)) Files.createLink(dst.resolveSibling(crc.getFileName), crc)
    }

  // ---- key-range files: the per-file stats sidecar ----
  //
  // `_files` (underscore: invisible to parquet readers) lists one line
  // per data file of its version dir: `path<TAB>rows[<TAB>min<TAB>max]`,
  // min/max of the leading merge key, absent when the file holds no
  // non-null key. Written at commit for an unpartitioned table with an
  // integral leading key (footer min/max are exact for those; a
  // partitioned table's unit of rewrite is the partition, found from
  // partition values); a file with no line — a version written before
  // the sidecar existed, or a footer without stats — is "unknown" and
  // always a rewrite candidate.

  private def readStats(dir: Path): Map[String, LakeTable.FileStat] = {
    val f = dir.resolve("_files")
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f).toArray.toSeq.map(_.toString).filter(_.nonEmpty)
      .map { l =>
        val c = l.split('\t')
        c(0) -> LakeTable.FileStat(c(1).toLong,
          Option.when(c.length == 4)((c(2).toLong, c(3).toLong)))
      }.toMap
  }

  /** Row count and leading-key range of one parquet file, from its footer
    * (a driver-side read, no Spark job); None when the footer carries no
    * statistics for the key. */
  private def footerStat(f: Path): Option[LakeTable.FileStat] = {
    import scala.jdk.CollectionConverters._
    val blocks = scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader
      .open(new org.apache.parquet.io.LocalInputFile(f)))(_.getFooter.getBlocks.asScala.toSeq)
    val stats = blocks.map(_.getColumns.asScala
      .find(_.getPath.toDotString == mergeKeys.head).map(_.getStatistics).orNull)
    if (stats.exists(s => s == null || s.isEmpty)) None
    else {
      val vals = stats.filter(_.hasNonNullValue)
      def num(o: Any) = o.asInstanceOf[Number].longValue
      Some(LakeTable.FileStat(blocks.map(_.getRowCount).sum,
        Option.when(vals.nonEmpty)((vals.map(s => num(s.genericGetMin)).min,
          vals.map(s => num(s.genericGetMax)).max))))
    }
  }

  /** Finish a staged version's files: hard-link the donor's untouched
    * files, then record `_files` — footer stats of the files this commit
    * wrote, the donor's lines for the files it linked. */
  private def stageFiles(schema: StructType, linked: Option[(Path, Seq[String])]): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val fresh = LakeTable.dataFiles(stagingDir)
    linked.foreach { case (donor, files) => linkUntouched(donor, files) }
    val ranged = partitionCols.isEmpty && mergeKeys.headOption.exists(k =>
      schema.find(_.name == k).exists(f => Seq(LongType, IntegerType, ShortType,
        ByteType).contains(f.dataType)))
    if (ranged) {
      val carried = linked.fold(Map.empty[String, LakeTable.FileStat]) {
        case (donor, files) => readStats(donor).view.filterKeys(files.toSet).toMap }
      // footer reads are independent small file reads: run them side by side
      import scala.concurrent.ExecutionContext.Implicits.global
      val stats = scala.concurrent.Await.result(scala.concurrent.Future.traverse(fresh)(f =>
        scala.concurrent.Future(footerStat(stagingDir.resolve(f)).map(f -> _))),
        scala.concurrent.duration.Duration.Inf).flatten ++ carried
      if (stats.nonEmpty)
        Files.write(stagingDir.resolve("_files"), stats.sortBy(_._1).map {
          case (f, LakeTable.FileStat(n, r)) =>
            (Seq(f, n.toString) ++ r.toSeq.flatMap { case (a, b) => Seq(a, b).map(_.toString) })
              .mkString("\t")
        }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
  }

  /** The current version's data files as disjoint ranges of the leading
    * merge key — the unit a key-ranged rewrite works in — or None when
    * the table rewrites whole: partitioned (its unit is the partition),
    * no stats (a non-integral key, a version written before the sidecar)
    * or at most [[LakeTable.RowsPerFile]] rows (one file's worth: no
    * probe job, no shuffle). Files whose [min, max] overlap form ONE
    * range (a layout rewrite's files may overlap; a key-ranged write's
    * do not). Files without stats are `unknown`. */
  private def keyRanges(donor: Path): Option[KeyRanges] = {
    val stats = readStats(donor)
    if (partitionCols.nonEmpty || stats.values.map(_.rows).sum <= LakeTable.RowsPerFile)
      return None
    val files = LakeTable.dataFiles(donor)
    val ranges = files.flatMap(f => stats.get(f).flatMap(s => s.range.map((f, s.rows, _))))
      .sortBy(_._3._1)
      .foldLeft(Vector.empty[LakeTable.KeyRange]) { case (acc, (f, n, (lo, hi))) =>
        acc.lastOption match {
          case Some(r) if lo <= r.hi =>
            acc.init :+ LakeTable.KeyRange(r.lo, r.hi max hi, r.files :+ (f -> n))
          case _ => acc :+ LakeTable.KeyRange(lo, hi, Seq(f -> n))
        }
      }
    Option.when(ranges.nonEmpty)(new KeyRanges(ranges, files.filterNot(stats.contains)))
  }

  /** A version's key ranges (sorted, disjoint) and its files without
    * stats. A key OWNS the range of the last range starting at or below
    * it (the first range below every start), so a key above the max
    * lands in the tail range. `sized` maps a range being rewritten to
    * (rows, lo, hi) of what it will hold. */
  private final class KeyRanges(ranges: IndexedSeq[LakeTable.KeyRange], unknown: Seq[String]) {
    private def key = col(mergeKeys.head).cast("long")
    private val starts = ranges.map(_.lo).toArray

    /** The MERGE's candidate probe — ONE job over the source, no
      * shuffle: per owning range, the source's row count and key bounds
      * (partition-local, merged on the driver), widened by the range's
      * own. */
    def sourceHits(source: DataFrame): Map[Int, (Long, Long, Long)] = {
      import spark.implicits._
      val st = starts // the closure captures the array, not this
      val hits = LakeTable.rangeHits(st) _
      source.select(key).as[java.lang.Long].mapPartitions(hits).collect()
        .groupMapReduce(_._1)(h => (h._2, h._3, h._4)) {
          case ((n1, a1, b1), (n2, a2, b2)) => (n1 + n2, a1 min a2, b1 max b2) }
        .map { case (i, (n, a, b)) =>
          val g = ranges(i)
          i -> (g.files.map(_._2).sum + n, a min g.lo, b max g.hi)
        }
    }

    /** The version is ONE range (its files overlap: a load not yet
      * clustered) — a MERGE then rewrites all of it without a probe. */
    def single: Boolean = ranges.size == 1 && unknown.isEmpty

    /** The files of the given ranges plus every file without stats. */
    def touched(rs: Set[Int]): Set[String] =
      (rs.toSeq.flatMap(i => ranges(i).files.map(_._1)) ++ unknown).toSet

    /** A DELETE/UPDATE's `sized`: each range holding a touched file, with
      * the touched files' rows. */
    def sizedFiles(files: Set[String]): Map[Int, (Long, Long, Long)] =
      ranges.indices.flatMap { i =>
        val n = ranges(i).files.filter(f => files(f._1)).map(_._2)
        Option.when(n.nonEmpty)(i -> (n.sum, ranges(i).lo, ranges(i).hi))
      }.toMap

    /** `df` tagged with its output file ([[LakeTable.SlotCol]], written
      * as one more directory level and flattened at commit) and
      * clustered so each file is written by one task. A `sized` range
      * splits into ceil(rows / RowsPerFile) equal-width sub-ranges of
      * [lo, hi] (a range grown past RowsPerFile splits; one below it —
      * the tail extended by appends — stays one file). A row owned by
      * any other range (only a file without stats holds such rows) goes
      * to one extra file. The file is picked by a UDF over driver-built
      * arrays, so the generated code is the same on every commit and its
      * compiled class is reused. */
    def slotted(df: DataFrame, sized: Map[Int, (Long, Long, Long)]): DataFrame = {
      val parts = ranges.indices.map(i => sized.get(i).fold(0)(s =>
        math.max(1L, (s._1 + LakeTable.RowsPerFile - 1) / LakeTable.RowsPerFile).toInt))
      val offset = parts.scanLeft(0)(_ + _)
      val layout = LakeTable.FileLayout(starts, offset.toArray, parts.toArray,
        ranges.indices.map(i => sized.get(i).fold(0L)(_._2)).toArray,
        ranges.indices.map(i => sized.get(i).fold(0L)(_._3)).toArray)
      val files = offset.last + (if (unknown.nonEmpty) 1 else 0)
      df.withColumn(LakeTable.SlotCol, org.apache.spark.sql.functions.udf(layout.file _).apply(key))
        .repartition(files min spark.sparkContext.defaultParallelism max 1,
          col(LakeTable.SlotCol))
    }
  }

  /** Recursively hard-link a directory tree (same filesystem). The object-
    * store equivalent is manifest-level file reuse: a new table version
    * referencing unchanged data files instead of rewriting them. */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.walk(src).forEach { p =>
      val target = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.createLink(target, p)
    }
  }

  /** Hash-cluster a frame by the partition columns before it is staged —
    * Delta's "optimized writes". Without it every task writes a file
    * into every partition dir it sees a row for (tasks × partitions
    * small files: a 2,048-partition table written by 32 tasks measured
    * 65k files and an 18-minute write in the round-13 dedupidxp probe);
    * with it each partition's rows land in one task → ~one file per
    * partition, and the per-publish hard-link walk stays O(partitions).
    * Layout-authored writes (compact's file-count contract, Z-order's
    * range clustering) skip it — re-shuffling would destroy the layout
    * they exist to produce. */
  private def clustered(df: DataFrame): DataFrame =
    if (partitionCols.isEmpty) df
    else df.repartition(partitionCols.map(col): _*)

  /** A row-level write's next version: `df` clustered, the committed
    * meta carried forward with `meta` merged in, and — when `touched`
    * names the files it rewrites — every other file of the current
    * version hard-linked. `release` runs once the commit is over. */
  private def pendingWrite(df: DataFrame, feed: Option[DataFrame],
      meta: Map[String, String], touched: Option[Set[String]],
      release: () => Unit = () => ()): LakeTable.Pending = {
    val donor = currentDir
    LakeTable.Pending(this, clustered(df), feed, readMeta(donor) ++ meta,
      touched.map(t => donor -> LakeTable.dataFiles(donor).filterNot(t)),
      release = release)
  }

  /** Pointer-publish: move the staged write to the next version directory,
    * then swap the one-line CURRENT pointer with a single atomic rename.
    * Crash-safe at every step: before the pointer rename lands, readers
    * resolve the old version; after, the new one. */
  private def publish(): Unit = {
    Files.createDirectories(tableDir)
    // a crash AFTER the staging→version move but BEFORE the pointer
    // swap leaves an orphan version dir that was never published.
    // Version dirs beyond the current pointer are provably exactly
    // those orphans (the pointer only ever advances to a fully-landed
    // dir) — reclaim them FIRST, or they surface in availableVersions
    // as time travel to a never-committed state AND shift the next
    // version number past a gap. Single-writer discipline is assumed
    // throughout this class (as in the reference's one-job-per-table
    // orchestration); a concurrent writer would race the pointer swap
    // itself, not just this cleanup.
    val cur = currentVersion.getOrElse(0)
    allVersions.filter(_ > cur).foreach(o => deleteRecursively(versionDir(o)))
    // Feed orphans obey the same beyond-pointer rule — and MUST be
    // swept unconditionally, not only when this write stages a feed of
    // its own: a crash between the feed move and the pointer swap
    // leaves changes/v{N} for a never-committed N, and the next
    // FEED-LESS write (create, upsertScd2) lands its data at that same
    // N — changesSince would then answer from the stale feed, silently
    // attributing the crashed operation's events to the new write,
    // instead of falling back to the snapshot diff.
    allFeedVersions.filter(_ > cur).foreach(o => deleteRecursively(feedDir(o)))
    val v = cur + 1
    Files.move(stagingDir, versionDir(v), StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(feedStagingDir)) {
      Files.createDirectories(tableDir.resolve("changes"))
      Files.move(feedStagingDir, feedDir(v), StandardCopyOption.ATOMIC_MOVE)
    }
    val tmp = tableDir.resolve(".CURRENT.tmp")
    Files.writeString(tmp, s"v$v")
    Files.move(tmp, pointerFile, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    pruneVersions(v)
  }

  private def allVersions: Seq[Int] = versionsIn(tableDir)

  /** Versions with a recorded change feed (committed or orphaned). */
  private def allFeedVersions: Seq[Int] = versionsIn(tableDir.resolve("changes"))

  private def versionsIn(dir: Path): Seq[Int] =
    if (!Files.isDirectory(dir)) Nil
    else listing(dir).map(_.getFileName.toString)
      .filter(_.matches("v\\d+")).map(_.stripPrefix("v").toInt).sorted

  /** Retained PRIOR snapshots — strictly BELOW the current version.
    * A dir beyond the pointer can only be the residue of a crashed
    * publish (landed but never committed); it is not a snapshot any
    * reader ever saw and must not become a time-travel target. */
  def availableVersions: Seq[Int] = {
    val cur = currentVersion
    allVersions.filter(v => cur.exists(v < _))
  }

  private def pruneVersions(current: Int): Unit =
    allVersions.filterNot(_ == current).dropRight(keepVersions)
      .foreach(v => deleteRecursively(versionDir(v)))

  /** Time travel: read a retained prior snapshot (as listed by
    * [[availableVersions]]). */
  def readVersion(v: Int): DataFrame = {
    require(availableVersions.contains(v),
      s"version $v not retained (have: $availableVersions)")
    readDir(versionDir(v))
  }

  /** Row-level DELETE (Delta DML parity): remove rows matching the
    * condition, keep everything else — including rows where the condition
    * is NULL, matching SQL DELETE semantics. Published as a new version;
    * the old snapshot stays readable.
    *
    * File-pruned like Delta's DELETE on partitioned tables and on
    * unpartitioned tables above RowsPerFile rows ([[dmlCut]]): only the
    * files holding matching rows (on a partitioned table, the files of
    * their partitions) rewrite, minus the matches; every other file
    * hard-links. Always safe — a DELETE can only remove rows. The feed
    * scan reads the same files. */
  def delete(condition: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val cond = coalesce(condition, lit(false))
    val (touched, cur, shape) = dmlCut(cond, pruned = true)
    LakeTable.commitFused(Seq(pendingWrite(shape(cur.filter(!cond)),
      Option.when(changeFeed)(
        cur.filter(cond).withColumn("_change_type", lit("delete"))),
      Map.empty, touched)))
  }

  /** A DELETE/UPDATE's touched files, the rows it reads and the shaping
    * of the rows it writes back. When `pruned` and the table is
    * partitioned or key-ranged, the touched files come from ONE bounded
    * collect of the matching rows' `_metadata.file_path` (widened to
    * their partitions on a partitioned table, whose unit of rewrite is
    * the partition), only those are read, and a key-ranged table's
    * rewrite keeps its ranges. Otherwise
    * (a small unpartitioned table, an UPDATE moving rows across
    * partitions) the whole table rewrites, with no added job. */
  private def dmlCut(cond: org.apache.spark.sql.Column, pruned: Boolean):
      (Option[Set[String]], DataFrame, DataFrame => DataFrame) = {
    val donor = currentDir
    val whole = read
    lazy val kr = keyRanges(donor)
    if (!pruned || (partitionCols.isEmpty && kr.isEmpty)) (None, whole, identity)
    else {
      val files = filesMatching(donor, whole, cond)
      if (partitionCols.nonEmpty) {
        val parts = files.map(partOf)
        (Some(filesInParts(donor, parts)), inParts(whole, Some(parts)), identity)
      } else
        (Some(files), inFiles(whole, files), df => kr.get.slotted(df, kr.get.sizedFiles(files)))
    }
  }

  /** Row-level UPDATE: apply the assignments to rows matching the
    * condition, leave others untouched.
    *
    * File-pruned like [[delete]] when no ASSIGNED column is a partition
    * column (an update then can't move a row across partitions): only
    * the files holding matching rows (their partitions' files on a
    * partitioned table) rewrite, the rest hard-link. An update
    * that assigns a partition column falls back to the full rewrite —
    * the moved rows must land in their new partitions. (An update that
    * moves a row out of its key range stays correct: the rewritten
    * file's recorded range covers it.) */
  def update(condition: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, when, xxhash64}
    val cond = coalesce(condition, lit(false))
    val (touched, cur, shape) =
      dmlCut(cond, pruned = partitionCols.forall(c => !assignments.contains(c)))
    val updated = cur.select(cur.columns.toIndexedSeq.map { c =>
      assignments.get(c)
        .map(expr => when(cond, expr).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
    if (checkConstraints.nonEmpty)
      // only the post-images of MATCHED rows can newly violate
      enforceConstraints(cur.filter(cond).select(
        cur.columns.toIndexedSeq.map { c =>
          assignments.get(c).map(_.as(c)).getOrElse(col(c))
        }: _*), "update")
    val feed = Option.when(changeFeed) {
      // pre/post images of MATCHED rows whose non-key values actually
      // changed (no-op assignments produce no events, matching the
      // snapshot diff)
      val before = cur.filter(cond)
      val after = before.select(cur.columns.toIndexedSeq.map { c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))
      }: _*)
      val nonKey = cur.columns.filterNot(mergeKeys.contains).toSeq
      def hashed = xxhash64(nonKey.map(col): _*)
      val changedKeys = after.withColumn("__h", hashed)
        .join(before.select(mergeKeys.map(col) :+ hashed.as("__h_old"): _*),
          mergeKeys)
        .filter(col("__h") =!= col("__h_old"))
        .select(mergeKeys.map(col): _*)
      val pre = before.join(changedKeys, mergeKeys, "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
      val post = after.join(changedKeys, mergeKeys, "left_semi")
        .withColumn("_change_type", lit("update_postimage"))
      post.unionByName(pre)
    }
    LakeTable.commitFused(Seq(pendingWrite(shape(updated), feed, Map.empty, touched)))
  }

  /** Small-file compaction (OPTIMIZE without reordering): rewrite the
    * current version into `numFiles` files. Content unchanged. */
  def compact(numFiles: Int): Unit = commitLayout(read.repartition(numFiles))

  /** OPTIMIZE ZORDER analogue: rewrite the current version clustered on
    * the Z-order (Morton) curve of N columns, published as a new
    * version via the same pointer swap. `repartitionByRange` on the
    * z-value gives each output file a contiguous curve segment, so
    * parquet min/max stats prune scans filtered on ANY of the clustered
    * columns. Content is byte-for-byte the same rows — only layout
    * changes (checked by LakeTableSpec). Per-dimension bit budget is
    * min(16, 63/N). */
  def optimizeZorder(cols: Seq[String], numFiles: Int): Unit = {
    import graft.functions.ZOrder
    import org.apache.spark.sql.functions.{max => fmax, min => fmin, broadcast}
    require(cols.nonEmpty)
    val cur = read
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(fmin(col(c)).as(s"__min$i"), fmax(col(c)).as(s"__max$i")) }
    val stats = cur.agg(aggs.head, aggs.tail: _*)
    val bits = math.min(16, 63 / cols.size)
    val z = ZOrder.interleaveN(cols.zipWithIndex.map { case (c, i) =>
      ZOrder.bin(col(c), col(s"__min$i"), col(s"__max$i"), bits) }, bits)
    val statCols = cols.indices.flatMap(i => Seq(s"__min$i", s"__max$i"))
    commitLayout(cur.crossJoin(broadcast(stats))
      .withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: statCols: _*))
  }

  def optimizeZorder(c1: String, c2: String, numFiles: Int): Unit =
    optimizeZorder(Seq(c1, c2), numFiles)

  def optimizeZorder(c1: String, c2: String): Unit =
    optimizeZorder(Seq(c1, c2), 8)

  /** A layout-only rewrite (compact, Z-order): the layout as authored
    * (no clustering), meta carried, and on a change-feed table an EMPTY
    * feed, staged after the data write — no union branch, so the
    * authored layout reaches the writer untouched. */
  private def commitLayout(df: DataFrame): Unit = {
    val feedSchema = read.schema.add("_change_type", "string")
    LakeTable.commitFused(Seq(LakeTable.Pending(this, df, None,
      readMeta(currentDir),
      afterStage = () => if (changeFeed) LakeTable.finishFeed(this, feedSchema))))
  }

  /** CDC between a retained snapshot and the current version — the Delta
    * Change Data Feed analogue, derivable here because versions are full
    * snapshots: `insert` (key absent in the snapshot),
    * `update_preimage` + `update_postimage` (key present, any non-key
    * column changed — compared via one xxhash64 over the non-key
    * columns, no row-by-row driver work; the PREIMAGE row carries the
    * old values, which is what lets a downstream consumer incrementally
    * maintain aggregates: new_agg = agg − preimage + postimage + inserts
    * − deletes), `delete` (key gone from current). Key-shuffles over the
    * two snapshots only; at scale this is how consumers sync without
    * re-reading the full table.
    *
    * With `changeFeed` on (and feeds recorded for every version in the
    * span) this never touches the snapshots at all: it unions the
    * recorded per-version feeds — O(changes) — and works even after
    * retention pruned snapshot `v`. The feed is an event log rather
    * than a net diff: over multi-write spans it may contain canceling
    * events whose signed composition equals the snapshot diff (see the
    * CDF section above). */
  def changesSince(v: Int): DataFrame = {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val cur = read
    // Feed fast path: when the recorded write-time feeds (plain
    // per-version dirs and/or compacted net dirs, see
    // [[compactChangeFeed]]) fully cover (v, current], answer from the
    // log — O(changes), no snapshot reads, and independent of whether
    // snapshot v is still retained. Old feeds align to the CURRENT
    // schema with typed nulls (additive evolution, same rule as the
    // snapshot path below).
    if (v < version) resolveFeedReads(v, version) match {
      case Some(reads) => return readFeedVersions(reads, cur)
      case None        => // fall through to the snapshot diff
    }
    // Align the old snapshot to the CURRENT schema: columns added since
    // `v` (schema-evolving upsert) project as typed nulls on the old
    // side, so an update whose ONLY change is setting a new column
    // (null → value) is detected like any other; columns dropped since
    // `v` are not reported (evolution here is additive, matching the
    // merge's allowMissingColumns semantics).
    val old = {
      val o = readVersion(v)
      o.select(cur.columns.toIndexedSeq.map { c =>
        if (o.columns.contains(c)) col(c)
        else lit(null).cast(cur.schema(c).dataType).as(c)
      }: _*)
    }
    val nonKey = cur.columns.filterNot(mergeKeys.contains).toSeq
    def hashed = xxhash64(nonKey.map(col): _*)
    val inserts = CoreOps.antiJoin(mergeKeys, old)(cur)
      .withColumn("_change_type", lit("insert"))
    val deletes = CoreOps.antiJoin(mergeKeys, cur)(old)
      .withColumn("_change_type", lit("delete"))
    val changedKeys = cur.withColumn("__h", hashed)
      .join(old.select(mergeKeys.map(col) :+ hashed.as("__h_old"): _*),
        mergeKeys)
      .filter(col("__h") =!= col("__h_old"))
      .select(mergeKeys.map(col): _*)
    val post = cur.join(changedKeys, mergeKeys, "left_semi")
      .withColumn("_change_type", lit("update_postimage"))
    val pre = old.join(changedKeys, mergeKeys, "left_semi")
      .withColumn("_change_type", lit("update_preimage"))
    inserts.unionByName(post).unionByName(pre).unionByName(deletes)
  }

  // ---- feed resolution, epoch-grouped replay, and compaction ----

  /** Marker inside a compacted feed dir: the version its net events
    * start AFTER (exclusive) — dir `w` with `_compacted_from = f`
    * holds the NET composition of the original feeds (f, w]. */
  private def compactedFrom(w: Int): Option[Int] = {
    val f = feedDir(w).resolve("_compacted_from")
    if (!Files.exists(f)) None
    else {
      val raw = Files.readString(f).trim
      Some(scala.util.Try(raw.toInt).getOrElse(throw new IllegalStateException(
        s"table $name: feed v$w has an unparseable _compacted_from " +
          s"('$raw') — refusing to replay a feed whose span is unknown")))
    }
  }

  /** The feed dirs to READ to cover exactly (sinceV, upTo], or None
    * when the recorded feeds cannot serve this consumer (a gap, or a
    * compacted dir whose net starts BEFORE the sync point — replaying
    * it would attribute pre-sync events to the consumer's span).
    * A plain dir covers itself; a compacted dir covers its whole span,
    * and any dir lying STRICTLY INSIDE another dir's span is
    * superseded residue (the crash window between landing the net and
    * sweeping the originals) — excluded from reading so its events are
    * never double-counted. */
  private def resolveFeedReads(sinceV: Int, upTo: Int): Option[Seq[Int]] = {
    val wanted = (sinceV + 1) to upTo
    if (wanted.isEmpty) return Some(Nil)
    val info = wanted.filter(i => Files.isDirectory(feedDir(i)))
      .map(i => i -> compactedFrom(i))
    val spans = info.collect { case (w, Some(cf)) => (cf, w) }
    if (spans.exists(_._1 < sinceV)) return None
    def superseded(i: Int) = spans.exists { case (cf, w) => i > cf && i < w }
    val reads = info.filterNot { case (i, _) => superseded(i) }
    val covered = reads.iterator.flatMap { case (w, cfOpt) =>
      ((cfOpt.getOrElse(w - 1) + 1) to w).iterator }.toSet
    if (wanted.forall(covered)) Some(reads.map(_._1)) else None
  }

  /** Replay the given feed dirs as one frame aligned to the CURRENT
    * schema. Consecutive dirs sharing a schema (by field name + type;
    * nullability widened) group into ONE multi-path scan, so the
    * replay plan is O(schema epochs) wide, not O(versions): a consumer
    * syncing across a 1,000-version span gets a handful of scan leaves
    * instead of a 1,000-leaf union (driver plan size, optimizer time,
    * and task-launch overhead all scale with leaves). The per-dir
    * schema probe is a driver-side footer read — cheap and bounded. */
  private def readFeedVersions(reads: Seq[Int], cur: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{StructField, StructType}
    // epoch key: the write-time `_schema_fp` file when present (a
    // microsecond text read), footer probe with the IDENTICAL
    // rendering otherwise (pre-fp dirs) — so grouping costs O(epochs)
    // footer reads plus O(versions) tiny file reads, never O(versions)
    // footer probes
    def key(i: Int): String = {
      val fp = feedDir(i).resolve("_schema_fp")
      if (Files.exists(fp)) Files.readString(fp).trim
      else schemaFingerprint(spark.read.parquet(feedDir(i).toString).schema)
    }
    val groups = reads.foldLeft(Vector.empty[(String, Vector[Int])]) {
      (acc, i) =>
        val k = key(i)
        acc.lastOption match {
          case Some((lk, vs)) if lk == k => acc.init :+ ((lk, vs :+ i))
          case _                         => acc :+ ((k, Vector(i)))
        }
    }
    // the epoch's authoritative types come from its fingerprint STRING
    // when it parses back losslessly (the rendering is `name:type.sql`,
    // DDL-parseable; the roundtrip check rejects any name a ':' or '|'
    // would make ambiguous) — zero footer I/O on the common path. The
    // footer probe stays as the fallback for pre-fp dirs and
    // unparseable names; nullability widened either way (dirs in a
    // group agree by fingerprint).
    groups.map { case (k, vs) =>
      val schema = schemaFromFingerprint(k).getOrElse(StructType(
        spark.read.parquet(feedDir(vs.head).toString).schema
          .map(f => StructField(f.name, f.dataType))))
      val df = spark.read.schema(schema)
        .parquet(vs.map(i => feedDir(i).toString): _*)
      df.select(cur.columns.toIndexedSeq.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(cur.schema(c).dataType).as(c)
      } :+ col("_change_type"): _*)
    }.reduce(_ unionByName _)
  }

  /** Compact the recorded change feeds over (from, to]: replace the
    * per-version event logs with ONE synthetic feed dir at v`to`
    * holding the NET per-key composition of the span — a slow consumer
    * syncing across it then replays O(net changes) instead of O(raw
    * events), and the span's interior dirs are reclaimed. Canceling
    * event chains vanish entirely (insert→delete, update→revert); a
    * key changed several times nets to ONE pre/post pair (first
    * pre-image, last post-image — exactly the snapshot diff over the
    * span). Already-compacted dirs inside the span compose transitively.
    *
    * Consumer contract (same discipline as [[pruneChangeFeed]]): pick
    * `from` ≤ the oldest version any consumer is still synced at. A
    * consumer synced INSIDE the span afterwards falls back to the
    * snapshot diff — correct if its snapshot is retained, loud
    * (readVersion's retention check) if not; never silently wrong.
    * Do NOT compact while a STREAMING subscriber
    * ([[readChangeFeedStream]]) holds a live checkpoint over this
    * table's feed: the net dir's files are new paths, so a checkpointed
    * file source would re-deliver the span's events.
    *
    * Crash-safe ordering: the net dir (with its `_compacted_from`
    * marker) lands at feedDir(`to`) via an atomic move FIRST; readers
    * seeing the marker skip every dir inside the span, so the
    * interior sweep afterwards is pure space reclamation — a crash
    * between the two steps double-counts nothing. */
  def compactChangeFeed(from: Int, to: Int): Unit = {
    import org.apache.spark.sql.functions.{array, explode, lit, max_by, min_by, struct, when, xxhash64}
    require(from < to, s"empty compaction span ($from, $to]")
    require(to <= version, s"span end $to beyond current version $version")
    val reads = resolveFeedReads(from, to).getOrElse(
      throw new IllegalStateException(
        s"table $name: feed coverage of ($from, $to] is incomplete — " +
          "compaction would record a net that silently misses events"))
    val cur = read
    val allCols = cur.columns.toIndexedSeq
    // events aligned to the CURRENT schema, tagged with their version
    // for ordering (a compacted dir's events carry ITS span-end)
    val events = reads.map { i =>
      val df = spark.read.parquet(feedDir(i).toString)
      df.select(allCols.map { c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(cur.schema(c).dataType).as(c)
      } ++ Seq(col("_change_type"), lit(i).as("__fv")): _*)
    }.reduce(_ unionByName _)
    // per key: earliest event (pre-types first within a version) gives
    // the span's pre-image if the key existed before it; latest event
    // (post-types last) gives the post-image if the key exists after.
    // One write per version → at most one pre/post pair per (key,
    // version), so (version, typeRank) orders totally per key.
    val isPre = !LakeTable.isAddition
    val ord = col("__fv") * 2 + when(isPre, lit(0)).otherwise(lit(1))
    val agg = events
      .select(mergeKeys.map(col) :+
        struct(struct(allCols.map(col): _*).as("r"),
          col("_change_type").as("ct")).as("__e") :+ ord.as("__o"): _*)
      .groupBy(mergeKeys.map(col): _*)
      .agg(min_by(col("__e"), col("__o")).as("__f"),
        max_by(col("__e"), col("__o")).as("__l"))
      .withColumn("__pre",
        when(!LakeTable.isAddition(col("__f.ct")), col("__f.r")))
      .withColumn("__post",
        when(LakeTable.isAddition(col("__l.ct")), col("__l.r")))
    // same change-detection hash as the feed writer: only genuinely
    // changed pre/post pairs survive (a value updated then reverted
    // nets to nothing)
    val nonKey = allCols.filterNot(mergeKeys.contains)
    def h(s: org.apache.spark.sql.Column) =
      if (nonKey.isEmpty) lit(0L)
      else xxhash64(nonKey.map(c => s.getField(c)): _*)
    val net = agg.select(explode(
        when(col("__pre").isNull && col("__post").isNotNull,
          array(struct(col("__post").as("r"), lit("insert").as("ct"))))
        .when(col("__pre").isNotNull && col("__post").isNull,
          array(struct(col("__pre").as("r"), lit("delete").as("ct"))))
        .when(col("__pre").isNotNull && col("__post").isNotNull &&
            h(col("__pre")) =!= h(col("__post")),
          array(
            struct(col("__post").as("r"), lit("update_postimage").as("ct")),
            struct(col("__pre").as("r"), lit("update_preimage").as("ct")))))
        .as("__ev")) // no otherwise: a netted-away key yields NULL → no rows
      .selectExpr("__ev.r.*", "__ev.ct AS _change_type")
    val tmp = Paths.get(root, s".staging_feedcompact_$name")
    deleteRecursively(tmp)
    net.write.mode("overwrite").parquet(tmp.toString)
    Files.writeString(tmp.resolve("_schema_fp"), schemaFingerprint(net.schema))
    Files.writeString(tmp.resolve("_compacted_from"), from.toString)
    deleteRecursively(feedDir(to))
    Files.move(tmp, feedDir(to), StandardCopyOption.ATOMIC_MOVE)
    reads.filter(_ < to).foreach(i => deleteRecursively(feedDir(i)))
  }

  /** SCD Type 2 MERGE: history-preserving dimension upsert. Rows carry
    * `__valid_from` / `__valid_to` / `__is_current`; for each incoming
    * key whose TRACKED attributes changed (or that is new), the current
    * row (if any) is closed out (`__valid_to` = asOf, `__is_current` =
    * false) and a new current row inserted. Unchanged keys and already-
    * historical rows pass through untouched — the standard warehouse
    * pattern for slowly-changing dimensions, expressed as one anti-join +
    * one change-detection join + a union (same single-shuffle budget as
    * the plain MERGE; change detection compares only the tracked columns,
    * null-safely — Spark's hash functions SKIP null inputs, so a hash
    * comparison would miss a null↔value swap between two tracked columns).
    *
    * `source` must be deduplicated on `mergeKeys` and NOT contain the
    * bookkeeping columns; `asOf` is caller-supplied so reruns are
    * idempotent and the oracle can replay it (no current_timestamp).
    */
  def upsertScd2(source: DataFrame, trackCols: Seq[String],
      asOf: java.sql.Timestamp): Unit = {
    import org.apache.spark.sql.functions.{lit, struct}
    val meta = Seq("__valid_from", "__valid_to", "__is_current")
    require(meta.forall(c => !source.columns.contains(c)),
      "source must not carry SCD bookkeeping columns")
    def tracked = struct(trackCols.map(col): _*)
    if (!exists) {
      create(source
        .withColumn("__valid_from", lit(asOf))
        .withColumn("__valid_to", lit(null).cast("timestamp"))
        .withColumn("__is_current", lit(true)))
      return
    }
    val cur = read
    // keys whose tracked attributes changed, plus brand-new keys;
    // struct <=> struct is null-safe field-wise equality
    val changedKeys = source.withColumn("__t_new", tracked)
      .join(cur.filter(col("__is_current"))
        .select(mergeKeys.map(col) :+ tracked.as("__t_old"): _*),
        mergeKeys, "left_outer")
      .filter(!(col("__t_new") <=> col("__t_old")))
      .select(mergeKeys.map(col): _*)
    val closing = cur.join(changedKeys, mergeKeys, "left_semi")
      .filter(col("__is_current"))
      .withColumn("__valid_to", lit(asOf))
      .withColumn("__is_current", lit(false))
    val untouched = cur
      .join(changedKeys.withColumn("__chg", lit(true)), mergeKeys, "left_outer")
      .filter(col("__chg").isNull || !col("__is_current"))
      .drop("__chg")
    val inserts = source.join(changedKeys, mergeKeys, "left_semi")
      .withColumn("__valid_from", lit(asOf))
      .withColumn("__valid_to", lit(null).cast("timestamp"))
      .withColumn("__is_current", lit(true))
    LakeTable.commitFused(Seq(pendingWrite(
      untouched.unionByName(closing).unionByName(inserts), None, Map.empty, None)))
  }

  // ---- CHECK constraints (ALTER TABLE ADD CONSTRAINT analogue) ----
  //
  // Delta's CHECK-constraint semantics: named SQL predicates live in
  // the committed table metadata; the add validates EXISTING rows, and
  // every subsequent DML write (upsert, update) validates the INCOMING
  // rows and fails LOUDLY before anything stages — bad data never
  // reaches the table, and the violation names the constraint instead
  // of surfacing as silent drift downstream. NULL predicates pass
  // (SQL CHECK semantics). `create` is DDL-replace here (first-load
  // semantics throughout this class) and resets metadata, constraints
  // included. Probe cost: one filter+limit(1) job per constraint per
  // write over the incoming frame only — never the table — and zero
  // when the table has no constraints.

  /** The stored CHECK constraints, by name. */
  def checkConstraints: Map[String, String] =
    meta.collect { case (k, v) if k.startsWith("check_") =>
      k.stripPrefix("check_") -> v }

  /** ALTER TABLE ADD CONSTRAINT … CHECK: validates existing rows, then
    * publishes a metadata-only new version (hard links, no data). */
  def addCheckConstraint(cname: String, predicate: String): Unit = {
    require(exists, s"table $name must exist before adding a constraint")
    if (read.filter(!passes(predicate)).limit(1).count() > 0)
      throw new IllegalStateException(
        s"existing rows of $name violate CHECK $cname: $predicate")
    publishMetaOnly(readMeta(currentDir) + (s"check_$cname" -> predicate))
  }

  /** ALTER TABLE DROP CONSTRAINT (metadata-only publish). */
  def dropCheckConstraint(cname: String): Unit = {
    require(exists, s"table $name has no published version")
    publishMetaOnly(readMeta(currentDir) - s"check_$cname")
  }

  // SQL CHECK semantics: only a FALSE predicate violates; NULL passes
  private def passes(predicate: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    coalesce(expr(predicate).cast("boolean"), lit(true))
  }

  /** Metadata-only commit (Delta's commitInfo-style annotation): a new
    * version whose data files hard-link the current snapshot and whose
    * meta is the current meta merged with `m`. The use case that
    * motivated it: a streaming IVM drain records per-batch markers but
    * cannot know mid-drain which batch is last, so it cannot stamp the
    * `mv.base_version` freshness marker inside a batch commit — the
    * caller snapshots the base version BEFORE starting the drain and
    * annotates the view AFTER it completes. Crash between drain and
    * annotate leaves the marker absent → the MV rewrite conservatively
    * skips the view (never serves stale data); the next drain+annotate
    * repairs it. */
  def annotate(m: Map[String, String]): Unit = {
    require(exists, s"table $name has no published version to annotate")
    publishMetaOnly(readMeta(currentDir) ++ m)
  }

  /** Metadata-only new version: hard-link the current snapshot and swap
    * the meta file. The staged `_meta.json` LINK must be unlinked before
    * the rewrite — writing through it would corrupt the published prior
    * version's metadata via the shared inode. */
  private def publishMetaOnly(m: Map[String, String]): Unit = {
    deleteRecursively(stagingDir)
    linkTree(currentDir, stagingDir)
    Files.deleteIfExists(stagingDir.resolve("_meta.json"))
    writeMeta(stagingDir, m)
    publish()
  }

  private def enforceConstraints(source: DataFrame, op: String): Unit =
    checkConstraints.foreach { case (n, p) =>
      if (source.filter(!passes(p)).limit(1).count() > 0)
        throw new IllegalStateException(
          s"CHECK constraint $n ($p) violated by $op into table $name")
    }

  /** DESCRIBE DETAIL analogue: one row per retained snapshot (current
    * included) with data-file count and total bytes — pure filesystem
    * metadata, no data files read. The table-ops surface Delta exposes
    * for compaction/retention decisions. */
  def describeDetail: DataFrame = {
    import scala.jdk.CollectionConverters._
    val cur = currentVersion.getOrElse(
      throw new IllegalStateException(s"table $name has no published version"))
    val versions = (availableVersions :+ cur).distinct.sorted
    val rows = versions.map { v =>
      val files = scala.util.Using.resource(Files.walk(versionDir(v)))(
        _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toVector)
      (v, files.size.toLong, files.map(Files.size).sum, v == cur)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "bytes", "is_current")
  }

  /** DESCRIBE CHANGE FEED analogue: one row per recorded feed dir —
    * the version it belongs to, the exclusive span start it covers
    * (`covers_from` = version − 1 for a plain per-version dir; the
    * recorded `_compacted_from` for a compacted net dir), file count
    * and bytes. Pure filesystem metadata, no data files read — the
    * surface retention/compaction decisions are made from: pick
    * `compactChangeFeed` spans where many small per-version dirs
    * cover a range every consumer has passed, and `pruneChangeFeed`
    * cutoffs from the oldest `covers_from` still needed. */
  def describeChangeFeed: DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = allFeedVersions.map { v =>
      val files = scala.util.Using.resource(Files.walk(feedDir(v)))(
        _.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toVector)
      (v, compactedFrom(v).getOrElse(v - 1), files.size.toLong,
        files.map(Files.size).sum, compactedFrom(v).isDefined)
    }
    import spark.implicits._
    rows.toDF("version", "covers_from", "n_files", "bytes", "is_compacted")
  }

  /** DROP TABLE analogue: remove the table (all versions + pointer +
    * change feed). */
  def drop(): Unit = {
    deleteRecursively(tableDir)
    deleteRecursively(stagingDir)
    deleteRecursively(feedStagingDir)
  }

  /** VACUUM analogue: drop every retained PRIOR snapshot now (time travel
    * to them is gone, space is reclaimed); the current version is never
    * touched. Hard-linked files shared with the current version survive
    * via their remaining link, so this is always safe. */
  def vacuum(): Unit =
    availableVersions.foreach(v => deleteRecursively(versionDir(v)))

  /** Streaming CDC source (Delta's `readChangeFeed` in streaming mode):
    * the `changes/` directory is an APPEND-ONLY log of parquet files —
    * each publish lands a whole version dir atomically before the
    * pointer swap — so a file stream over it is a continuous change
    * stream a downstream consumer can subscribe to (enrich, route,
    * maintain views) without ever polling snapshots. Schema = the
    * CURRENT table schema + `_change_type`; feeds recorded before an
    * additive schema evolution surface the new columns as nulls (the
    * same alignment rule as batch [[changesSince]]).
    *
    * Subscription first reclaims BEYOND-POINTER feed orphans (residue
    * of a publish that crashed between the feed move and the pointer
    * swap): the `changes/v*` glob cannot be pointer-bounded, so without
    * the sweep a drain would deliver a never-committed write's events.
    * Safe under the class's single-writer discipline (batch
    * [[changesSince]] needs no sweep — it is pointer-bounded). */
  def readChangeFeedStream: DataFrame = {
    val changes = tableDir.resolve("changes")
    require(Files.isDirectory(changes),
      s"table $name has no recorded change feed (changeFeed off, or no " +
        "row-level writes yet)")
    val cur = currentVersion.getOrElse(0)
    allFeedVersions.filter(_ > cur).foreach(o => deleteRecursively(feedDir(o)))
    val schema = org.apache.spark.sql.types.StructType(
      read.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_change_type", org.apache.spark.sql.types.StringType))
    spark.readStream.schema(schema).parquet(s"$changes/v*")
  }

  /** Bound the CDC log: drop recorded change feeds for versions
    * STRICTLY BEFORE `keepSince` (feeds are otherwise kept forever —
    * they are what lets consumers sync past snapshot retention). Pick
    * `keepSince` = the oldest version any consumer is still synced at
    * (the value the maintainers return); a consumer further behind
    * then gets the correct LOUD failure from the snapshot-diff
    * fallback's retention check instead of a silently incomplete
    * delta. The Delta analogue is CDF files aging out with VACUUM. */
  def pruneChangeFeed(keepSince: Int): Unit = {
    val changes = tableDir.resolve("changes")
    if (Files.isDirectory(changes))
      scala.util.Using.resource(Files.list(changes))(_.forEach { p =>
        val n = p.getFileName.toString
        if (n.matches("v\\d+") && n.stripPrefix("v").toInt < keepSince)
          deleteRecursively(p)
      })
  }

  /** SHALLOW CLONE analogue: a new independent table whose v1 hard-links
    * the current snapshot's files — metadata-only (no data copied), the
    * object-store manifest-copy pattern on POSIX. Divergence is free in
    * both directions: writes to either table publish new version dirs and
    * never mutate shared files (every write path here stages then swaps),
    * and vacuum/retention on one side only unlinks its own paths. */
  def cloneTo(newName: String): LakeTable = {
    val src = currentDir
    val t = new LakeTable(spark, root, newName, mergeKeys, partitionCols,
      keepVersions)
    require(!t.exists, s"clone target $newName already exists")
    val staging = Paths.get(root, s".staging_$newName")
    deleteRecursively(staging)
    linkTree(src, staging)
    t.publish() // private, but same-class access is fine in Scala
    t
  }
}

object LakeTable {
  def apply(spark: SparkSession, root: String, name: String, mergeKeys: Seq[String],
      partitionCols: Seq[String] = Nil, changeFeed: Boolean = false,
      partitionsFromKeys: Boolean = false): LakeTable =
    new LakeTable(spark, root, name, mergeKeys, partitionCols,
      changeFeed = changeFeed, partitionsFromKeys = partitionsFromKeys)

  /** A change-feed row ADDS to the table state: an `insert` or an
    * `update_postimage`. Everything else (`delete`, `update_preimage`)
    * removes. The one spelling of the rule every feed consumer signs
    * its deltas with; `changeType` is the column holding the type. */
  private[graft] def isAddition(
      changeType: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    changeType.isin("insert", "update_postimage")

  /** [[isAddition]] of a change-feed row's own `_change_type`. */
  private[graft] def isAddition: org.apache.spark.sql.Column =
    isAddition(col("_change_type"))

  /** The signed weight of a change-feed row: +1 for an addition
    * ([[isAddition]]), −1 for a removal. */
  private[graft] def changeSign: org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.when(isAddition, 1L).otherwise(-1L)

  /** Rows per key-range data file: an unpartitioned table above this
    * many rows is split into key-range files of at most about this many
    * rows each, and a table at or below it rewrites whole (one file's
    * worth — the rewrite is cheaper than finding the files to skip). */
  private[graft] val RowsPerFile = 4096L

  /** The staged frame's output-file column of a key-ranged write — written
    * as one more directory level, then flattened into the version dir. */
  private val SlotCol = "__fslot"

  /** One data file's entry in a version's `_files` sidecar: its row count
    * and leading-merge-key [min, max] (None: no non-null key). */
  private final case class FileStat(rows: Long, range: Option[(Long, Long)])

  /** One key range: [lo, hi] of the leading merge key and its files
    * with their row counts. */
  private final case class KeyRange(lo: Long, hi: Long, files: Seq[(String, Long)])

  /** The range owning key `k` among ranges starting at `starts`: the last
    * start at or below it, else the first (a null key: the first). */
  private def owner(starts: Array[Long], k: java.lang.Long): Int =
    if (k == null) 0
    else {
      val at = java.util.Arrays.binarySearch(starts, k.longValue)
      if (at >= 0) at else math.max(0, -at - 2)
    }

  /** One partition's share of [[KeyRanges.sourceHits]]: per owning range,
    * (range, rows, min key, max key) — a range that got null keys only
    * has (Long.MaxValue, Long.MinValue). */
  private def rangeHits(starts: Array[Long])(
      keys: Iterator[java.lang.Long]): Iterator[(Int, Long, Long, Long)] = {
    val acc = scala.collection.mutable.Map.empty[Int, (Long, Long, Long)]
    keys.foreach { k =>
      val i = owner(starts, k)
      val (n, a, b) = acc.getOrElse(i, (0L, Long.MaxValue, Long.MinValue))
      acc(i) = if (k == null) (n + 1, a, b) else (n + 1, a min k, b max k)
    }
    acc.iterator.map { case (i, (n, a, b)) => (i, n, a, b) }
  }

  /** Where a key-ranged rewrite puts each row: range i (by [[owner]])
    * covers output files offset(i) until offset(i) + parts(i), split
    * equal-width over [lo(i), hi(i)]; a range with parts 0 is not being
    * rewritten, and its rows go to the file after all others. */
  private final case class FileLayout(starts: Array[Long], offset: Array[Int],
      parts: Array[Int], lo: Array[Long], hi: Array[Long]) {
    def file(k: java.lang.Long): Int = {
      val i = owner(starts, k)
      if (parts(i) == 0) offset.last
      else if (parts(i) == 1 || k == null) offset(i)
      else offset(i) + math.min(parts(i) - 1, math.max(0,
        ((k.doubleValue - lo(i)) * parts(i) / (hi(i).toDouble - lo(i) + 1)).toInt))
    }
  }

  /** The data files under a version dir, as paths relative to it. */
  private[graft] def dataFiles(dir: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(dir))(_.iterator.asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") &&
          Files.isRegularFile(p)
      }.map(p => dir.relativize(p).toString).toVector)
  }

  /** A fully-derived, not-yet-written next version of one table — what
    * every data write builds: the frame to stage, already shaped by its
    * builder (row-level writes cluster it by the partition columns or
    * into key-range files, layout rewrites keep the layout they
    * authored); the change-feed frame a row-level write records on a
    * change-feed table; the FINAL committed meta map; the donor version
    * dir and its files to hard-link (a file-granular write); the
    * post-stage work (a layout rewrite's empty feed) that runs after the
    * staged files land and before the pointer swap; and `release`, run
    * when the commit is over (a merge's cached source). The committed
    * `_schema_ddl` sidecar is the frame's schema. */
  private[graft] final case class Pending(table: LakeTable,
      frame: DataFrame, feed: Option[DataFrame], metaMap: Map[String, String],
      linked: Option[(Path, Seq[String])] = None,
      afterStage: () => Unit = () => (), release: () => Unit = () => ())

  /** The single commit path: every LakeTable data write — one table's
    * create / merge / DML / layout rewrite, or a maintainer's batch of
    * several tables — stages here, then publishes each table in the
    * given order (the order is the callers' crash contract: hint-
    * consumer before authority, marker last).
    *
    * The write is chosen by the number of DESTINATIONS — each pending's
    * data, plus its change feed as one more, unpartitioned, destination:
    *  - ONE destination: a plain Hive-partitioned write of the frame
    *    into the table's staging dir ([[writeTo]]).
    *  - More: ONE union write, discriminated by `__fdst` (the
    *    destination's index) and one `__fpart<j>` slot per partition
    *    level (the table's j-th partition column cast to string — the
    *    rendering the Hive partition writer uses; NULL beyond a
    *    destination's own levels), then ONE rename rearrangement
    *    ([[moveTree]]) into each table's canonical staging dir and FLAT
    *    feed staging dir. The branches keep their builders' shaping —
    *    union concatenates branch partitions, so an unpartitioned or feed
    *    branch flows to the writer unshuffled and a clustered branch
    *    keeps one task per partition value. (A first cut repartitioned
    *    the whole union by the discriminators — measured 0.6-0.8x: the
    *    global exchange serialized the write into the few AQE-coalesced
    *    partitions at lab scale and adds a full shuffle at ANY scale.)
    *    An EMPTY feed branch writes no dir; [[finishFeed]] records an
    *    empty feed for it.
    *
    * Data files written by the union physically carry all-NULL columns
    * of the other destinations (`_change_type`, a same-named copy of a
    * partition column, other tables' columns) — invisible, because
    * every version dir is served from its committed `_schema_ddl`
    * sidecar (the declaredRead contract), and a partition directory
    * value takes precedence over a same-named data column. A feed's
    * `_schema_fp` is written in the union's column order — the order
    * its physical files carry.
    *
    * A batch's frames must be mutually independent — each derived from
    * PRE-commit snapshots — since every destination is written before
    * the first pointer swap.
    *
    * Crash states: staging is invisible until each table's pointer
    * swap, and the swaps run in pending order, so the reachable states
    * are exactly the sequential form's crash-between-commits states —
    * the span-token recovery contracts (DedupIndex, AnnIndex, the IVM
    * aux/view markers) transfer unchanged. */
  private[graft] def commitFused(pendings: Seq[Pending]): Unit = {
    require(pendings.nonEmpty, "commitFused: no pending commits")
    val tables = pendings.map(_.table)
    require(tables.map(_.name).distinct.size == tables.size,
      s"commitFused: duplicate tables in one commit (${tables.map(_.name)})")
    val roots = tables.map(_.root).distinct
    require(roots.size == 1, s"commitFused: tables must share one root (got $roots)")
    // the discriminators are RESERVED (a same-named data column would be
    // replaced, its values stripped from the staged files), and so is a
    // change-feed write's `_change_type` on its data — fail loudly, like
    // Delta reserving _change_type on CDF tables
    pendings.foreach { p =>
      val cols = p.frame.columns ++ p.feed.toSeq.flatMap(_.columns)
      require(!cols.exists(c => c == "__fdst" || c.startsWith("__fpart")) &&
        !(p.feed.isDefined && p.frame.columns.contains("_change_type")),
        s"table ${p.table.name}: columns __fdst, __fpart* and (in a " +
          "change-feed write's data) _change_type are reserved by the staged write")
    }
    // a write that stages no feed must not publish a STALE one from an
    // aborted earlier operation
    tables.foreach { t =>
      deleteRecursively(t.stagingDir); deleteRecursively(t.feedStagingDir) }
    // a key-ranged frame's output-file column is one more partition
    // level of its destination, flattened after the write
    val dests = pendings.flatMap { p =>
      (p.frame, p.table.partitionCols ++ Seq(SlotCol).filter(p.frame.columns.contains),
        p.table.stagingDir) +:
        p.feed.map(f => (f, Seq.empty[String], p.table.feedStagingDir)).toSeq
    }
    try commitDests(pendings, dests)
    finally pendings.foreach(_.release())
  }

  private def commitDests(pendings: Seq[Pending],
      dests: Seq[(DataFrame, Seq[String], Path)]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val tables = pendings.map(_.table)
    if (dests.sizeIs == 1) { val (df, pcols, dir) = dests.head; writeTo(df, dir, pcols) }
    else {
      val slots = dests.map(_._2.size).max
      val fused = dests.zipWithIndex.map { case ((df, pcols, _), i) =>
        pcols.zipWithIndex.foldLeft(df) { case (d, (c, j)) =>
          d.withColumn(s"__fpart$j", col(c).cast("string"))
        }.drop(pcols: _*).withColumn("__fdst", lit(i))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      // each sidecar is its PRE-union frame schema, but the files are
      // physically written with the union's types: a column name shared
      // across destinations at DIFFERENT types would be silently widened
      // on disk and declaredRead would then hit a parquet type mismatch
      // on the published version — fail loudly instead (nullability is
      // irrelevant: reads nullable-widen everything)
      val types = fused.schema.map(f => f.name -> f.dataType.catalogString).toMap
      dests.foreach { case (df, pcols, dir) =>
        df.schema.filterNot(f => pcols.contains(f.name)).foreach { f =>
          require(types(f.name) == f.dataType.catalogString,
            s"commitFused: column ${f.name} staged to ${dir.getFileName} is " +
              s"${f.dataType.catalogString} but another destination of the " +
              s"batch types it ${types(f.name)} — the union would widen the " +
              "physical files away from the committed sidecar schema")
        }
      }
      // outside the `.staging_*` namespace, so no table's staging dir
      // can be this batch's scratch
      val scratch = Paths.get(tables.head.root, s".fused_${tables.head.name}")
      writeTo(fused, scratch, "__fdst" +: (0 until slots).map(j => s"__fpart$j"))
      dests.zipWithIndex.foreach { case ((_, pcols, dir), i) =>
        val out = scratch.resolve(s"__fdst=$i")
        if (Files.isDirectory(out)) moveTree(out, dir, pcols, slots)
      }
      deleteRecursively(scratch)
      pendings.foreach(p => p.feed.foreach(f => finishFeed(p.table,
        StructType(fused.schema.filter(c => f.columns.contains(c.name))))))
    }
    pendings.foreach { p =>
      val dir = p.table.stagingDir
      Files.createDirectories(dir)
      if (p.frame.columns.contains(SlotCol)) flattenSlots(dir)
      // schema sidecar: what lets readDir serve an EMPTY partitioned
      // snapshot (the partitioned writer emits no files for one)
      val schema = StructType(p.frame.schema.filterNot(_.name == SlotCol))
      Files.writeString(dir.resolve("_schema_ddl"), schema.toDDL)
      p.table.writeMeta(dir, p.metaMap)
    }
    pendings.foreach { p =>
      p.afterStage()
      p.table.stageFiles(p.frame.schema, p.linked)
      p.table.publish()
    }
  }

  /** Move each `__fslot=<s>` dir's files (data and checksum) up into the
    * staged version dir, prefixed `s<s>-`: one task writes several slots,
    * so the writer's file names repeat across slot dirs. */
  private def flattenSlots(dir: Path): Unit =
    listing(dir).filter(_.getFileName.toString.startsWith(s"$SlotCol=")).foreach { d =>
      val s = d.getFileName.toString.stripPrefix(s"$SlotCol=")
      listing(d).foreach { f =>
        val n = f.getFileName.toString
        Files.move(f, dir.resolve(
          if (n.startsWith(".")) s".s$s-${n.drop(1)}" else s"s$s-$n"))
      }
      Files.delete(d)
    }

  /** Complete a table's staged change feed: write its `_schema_fp`,
    * after staging an EMPTY feed when there is none (a layout rewrite, or
    * a DML whose feed branch had no rows) — changesSince's feed fast path
    * needs every version's feed, so coverage must stay contiguous. */
  private def finishFeed(t: LakeTable, schema: StructType): Unit = {
    val dir = t.feedStagingDir
    if (!Files.isDirectory(dir))
      writeTo(t.spark.createDataFrame(t.spark.sparkContext.emptyRDD[Row], schema),
        dir, Nil)
    Files.writeString(dir.resolve("_schema_fp"), t.schemaFingerprint(schema))
  }

  /** Stage `df` as parquet under `dir`, Hive-partitioned by `partitionBy`.
    * No _SUCCESS marker: LakeTable's commit marker is the atomic CURRENT
    * pointer swap, not the Hadoop job-level _SUCCESS file — a staged dir
    * is invisible until publish() regardless, so the marker is pure
    * overhead (~100 ms/write measured round 16; at object-store scale,
    * one fewer PUT per commit). */
  private def writeTo(df: DataFrame, dir: Path, partitionBy: Seq[String]): Unit = {
    val w = df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dir.toString)
  }

  /** Move one destination's slice of the union write (`__fdst=i`) to its
    * staging dir: each `__fpart<j>=V` level becomes `<cols(j)>=V` (the
    * writer escaped V exactly as the Hive layout does), levels beyond
    * `cols` — all-NULL for this destination — are flattened, and a
    * subtree with no slot level left moves with ONE rename. */
  private def moveTree(src: Path, dst: Path, cols: Seq[String], slots: Int): Unit =
    if (slots == 0) Files.move(src, dst)
    else listing(src).foreach { d =>
      if (cols.isEmpty) moveTree(d, dst, Nil, slots - 1)
      else {
        Files.createDirectories(dst)
        val v = d.getFileName.toString.split("=", 2)(1)
        moveTree(d, dst.resolve(s"${cols.head}=$v"), cols.tail, slots - 1)
      }
    }

  /** A directory's entries, materialized BEFORE the caller mutates
    * anything: a DirectoryStream is only weakly consistent under
    * concurrent modification, and renaming entries mid-iteration could
    * skip one on some filesystems. */
  private def listing(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(
      _.toArray.toSeq.map(_.asInstanceOf[Path]))

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  /** Effective-dated lookup against an SCD2 snapshot (as written by
    * `upsertScd2`): each fact row joins the ONE dimension version whose
    * validity interval contains the fact's timestamp —
    * `__valid_from <= ts < coalesce(__valid_to, +inf)`. Facts earlier
    * than the key's first version (or with no key match) drop out, like
    * any inner dimension lookup.
    *
    * Scale shape: an equi-join on the dimension keys with the interval
    * predicate as a residual filter — versions-per-key is small by
    * construction (one per change), so this is NOT a range join and
    * needs no binning; the join broadcasts or shuffles like any
    * fact-dim join. */
  def scd2Lookup(facts: DataFrame, dimSnapshot: DataFrame,
      keys: Seq[String], factTs: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val clash = facts.columns.toSet
      .intersect(dimSnapshot.columns.toSet) -- keys
    require(clash.isEmpty,
      s"fact and dimension share non-key columns $clash — rename or drop " +
        "them on one side, or the join output is ambiguous")
    val dim = dimSnapshot.withColumnRenamed("__valid_from", "__vf")
      .withColumnRenamed("__valid_to", "__vt")
      .drop("__is_current")
    facts.join(dim, keys)
      .filter(col("__vf") <= col(factTs) &&
        (col("__vt").isNull || col(factTs) < col("__vt")))
      .drop("__vf", "__vt")
  }
}

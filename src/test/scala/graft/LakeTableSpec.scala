package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, sum, when}

import graft.table.LakeTable

/** Merge-emulation semantics (SURVEY.md §7.3): insert-only, update-only,
  * mixed, rerun idempotency (the reference's stated goal,
  * order_glue_job.py:7), and partition-pruned upsert equivalence. */
class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot: String =
    Files.createTempDirectory(Paths.get(tablesRoot), "laketable").toString

  private def rows(t: LakeTable): Set[(Long, String, String)] =
    t.read.select("id", "v", "p").as[(Long, String, String)].collect().toSet

  private def df(rows: (Long, String, String)*): DataFrame =
    rows.toDF("id", "v", "p")

  test("create then read round-trips") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    assert(t.exists)
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
  }

  test("upsert on missing table creates it") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.upsert(df((1L, "a", "x")))
    assert(rows(t) == Set((1L, "a", "x")))
  }

  test("upsert: matched rows updated, unmatched inserted, others kept") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    t.upsert(df((2L, "B2", "y"), (3L, "c", "z")))
    assert(rows(t) == Set((1L, "a", "x"), (2L, "B2", "y"), (3L, "c", "z")))
  }

  test("upsert rerun is idempotent (upsert(upsert(T,S),S) == upsert(T,S))") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val src = df((2L, "B2", "y"), (3L, "c", "z"))
    t.upsert(src)
    val once = rows(t)
    t.upsert(src)
    assert(rows(t) == once)
  }

  test("EMPTY partitioned snapshot is legal: served from the _schema_ddl " +
      "sidecar without surfacing an inference error") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"),
      partitionCols = Seq("p"))
    // the partitioned writer emits NO data files for an empty frame —
    // the designed state an index over a corpus with no matches yet
    // publishes (DedupIndex pairs under pairParts)
    t.create(df())
    assert(t.exists)
    assert(t.read.count() == 0)
    // full committed schema, partition column included — and read
    // up-front from the sidecar (no UNABLE_TO_INFER_SCHEMA ERROR ever
    // reaches the listener bus for this designed state)
    assert(t.read.columns.toSeq == Seq("id", "v", "p"))
    // the empty snapshot is a real table: later merges work against it
    t.upsert(df((1L, "a", "x")))
    assert(rows(t) == Set((1L, "a", "x")))
    // and a DELETE back to empty keeps the table readable
    t.delete(lit(true))
    assert(t.read.count() == 0)
    assert(t.read.columns.toSeq == Seq("id", "v", "p"))
  }

  test("partitioned table: partition dirs exist and upsert preserves layout") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), partitionCols = Seq("p"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    assert(Files.isDirectory(t.currentDir.resolve("p=x")))
    t.upsert(df((2L, "B2", "y"), (3L, "c", "z")))
    assert(rows(t) == Set((1L, "a", "x"), (2L, "B2", "y"), (3L, "c", "z")))
    assert(Files.isDirectory(t.currentDir.resolve("p=z")))
  }

  test("pruned upsert rewrites only touched partitions, same result") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), partitionCols = Seq("p"))
    t.create(df((1L, "a", "x"), (2L, "b", "y"), (4L, "d", "y")))
    t.upsert(df((2L, "B2", "y"), (3L, "c", "z")), prunePartitions = true)
    assert(rows(t) == Set((1L, "a", "x"), (2L, "B2", "y"), (4L, "d", "y"), (3L, "c", "z")))
    // the untouched partition dir was hard-linked, not rewritten by Spark
    assert(Files.isDirectory(t.currentDir.resolve("p=x")))
    // hard-linking preserves the donor snapshot: prior version still whole
    val prior = t.readVersion(t.availableVersions.last)
      .select("id", "v", "p").as[(Long, String, String)].collect().toSet
    assert(prior == Set((1L, "a", "x"), (2L, "b", "y"), (4L, "d", "y")))
  }

  test("crash recovery: stale staging leftovers don't block the next write") {
    val root = freshRoot
    // simulate a writer that died mid-stage: junk in the staging dir
    val staging = java.nio.file.Paths.get(root, ".staging_t")
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("garbage"), "partial write")
    val t = LakeTable(spark, root, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    assert(rows(t) == Set((1L, "a", "x")))
    t.upsert(df((2L, "b", "y")))
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
  }

  test("time travel: prior snapshot readable after upsert, pruned to keepVersions") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    t.upsert(df((1L, "a2", "x")))
    t.upsert(df((1L, "a3", "x")))
    t.upsert(df((1L, "a4", "x")))
    assert(rows(t) == Set((1L, "a4", "x")))
    assert(t.availableVersions.size == 2) // keepVersions default
    val prev = t.readVersion(t.availableVersions.last)
      .select("id", "v", "p").as[(Long, String, String)].collect().toSet
    assert(prev == Set((1L, "a3", "x")))
    intercept[IllegalArgumentException](t.readVersion(999))
  }

  test("pointer publish: stale pointer tmp from a crashed writer is ignored") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    // simulate a crash between writing .CURRENT.tmp and the atomic rename
    Files.writeString(java.nio.file.Paths.get(root, "t", ".CURRENT.tmp"), "vGARBAGE")
    t.upsert(df((2L, "b", "y")))
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
  }

  test("pruned upsert handles null partition values (__HIVE_DEFAULT_PARTITION__)") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), partitionCols = Seq("p"))
    t.create(df((1L, "a", null), (2L, "b", "y")))
    // source touches ONLY the null partition: y must survive untouched,
    // id=1 must be updated inside the null partition, id=3 inserted there
    t.upsert(df((1L, "A2", null), (3L, "c", null)), prunePartitions = true)
    assert(rows(t) == Set((1L, "A2", null), (2L, "b", "y"), (3L, "c", null)))
  }

  test("schema evolution: upsert with a new column widens the table") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    val widened = Seq((2L, "b", "y", 42)).toDF("id", "v", "p", "extra")
    t.upsert(widened)
    val out = t.read.orderBy("id")
      .select("id", "v", "p", "extra")
      .as[(Long, String, String, Option[Int])].collect().toSeq
    // old rows carry null in the new column, new rows carry the value
    assert(out == Seq((1L, "a", "x", None), (2L, "b", "y", Some(42))))
  }

  test("changesSince classifies inserts, updates, and deletes") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    // update 2, insert 4; emulate a delete by merging a table rebuild
    t.upsert(df((2L, "B2", "y"), (4L, "d", "w")))
    val v1 = t.availableVersions.last
    val changes = t.changesSince(v1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(changes == Set((2L, "update_preimage"), (2L, "update_postimage"),
      (4L, "insert")))
    // the preimage row carries the OLD value, the postimage the new one
    val images = t.changesSince(v1).filter($"id" === 2L)
      .select("_change_type", "v").as[(String, String)].collect().toMap
    assert(images == Map("update_preimage" -> "b", "update_postimage" -> "B2"))
    // unchanged rows (1, 3) must NOT appear in the feed
    t.create(df((1L, "a", "x"))) // new version dropping 2,3,4
    val v2 = t.availableVersions.last
    val afterDrop = t.changesSince(v2)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(afterDrop == Set((2L, "delete"), (3L, "delete"), (4L, "delete")))
  }

  test("DELETE removes matching rows, keeps null-condition rows; UPDATE rewrites in place") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", null)))
    t.delete(col("p") === "y") // null p: condition NULL → row kept
    assert(rows(t) == Set((1L, "a", "x"), (3L, "c", null)))
    t.update(col("id") === 3L, Map("v" -> lit("C3")))
    assert(rows(t) == Set((1L, "a", "x"), (3L, "C3", null)))
    // prior snapshot still readable after DML
    val prev = t.readVersion(t.availableVersions.last)
      .select("id", "v", "p").as[(Long, String, String)].collect().toSet
    assert(prev == Set((1L, "a", "x"), (3L, "c", null)))
  }

  /** A layout-only rewrite on a change-feed table records an EMPTY feed
    * dir at the version it produced (contiguous feed coverage). */
  private def assertEmptyFeedRecorded(t: LakeTable, root: String): Unit = {
    assert(Files.isDirectory(
      java.nio.file.Paths.get(root, "t", "changes", s"v${t.version}")))
    assert(t.changesSince(t.version - 1).count() == 0)
  }

  test("compact reduces file count without changing content") {
    for (changeFeed <- Seq(false, true)) {
      val root = freshRoot
      val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = changeFeed)
      t.create(df((0L until 50L).map(i => (i, s"v$i", s"p${i % 5}")): _*))
      val before = rows(t)
      t.compact(1)
      assert(rows(t) == before)
      val files = java.nio.file.Files.list(t.currentDir).toArray
        .map(_.toString).count(_.endsWith(".parquet"))
      assert(files == 1, s"changeFeed=$changeFeed")
      if (changeFeed) assertEmptyFeedRecorded(t, root)
    }
  }

  test("optimizeZorder preserves content and clusters both dimensions") {
    import org.apache.spark.sql.functions.{col, input_file_name, max => fmax, min => fmin}
    for (changeFeed <- Seq(false, true)) {
      val root = freshRoot
      val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = changeFeed)
      // 32×32 uniform grid, row-major — unclustered on y
      val grid = (0L until 1024L).map(i => (i, i % 32, i / 32)).toDF("id", "x", "y")
      t.create(grid)
      t.optimizeZorder("x", "y", numFiles = 4)
      val out = t.read.select("id", "x", "y").as[(Long, Long, Long)].collect().toSet
      assert(out == grid.as[(Long, Long, Long)].collect().toSet) // layout-only change
      // each file should cover roughly a quadrant of (x, y) space, not a
      // full-width stripe: avg per-file bounding-box area well under half
      // the total area
      val areas = t.read.withColumn("f", input_file_name())
        .groupBy("f")
        .agg(((fmax(col("x")) - fmin(col("x"))) *
          (fmax(col("y")) - fmin(col("y")))).as("area"))
        .select("area").as[Long].collect()
      assert(areas.length == 4, s"changeFeed=$changeFeed: ${areas.toSeq}")
      val full = 31L * 31L
      assert(areas.sum.toDouble / areas.length <= full / 2.0,
        s"changeFeed=$changeFeed: files not clustered: areas=${areas.toSeq}")
      if (changeFeed) assertEmptyFeedRecorded(t, root)
    }
  }

  test("optimizeZorder on THREE columns preserves content and clusters each dim") {
    import org.apache.spark.sql.functions.{col, input_file_name, max => fmax, min => fmin}
    for (changeFeed <- Seq(false, true)) {
      val root = freshRoot
      val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = changeFeed)
      // 16^3 uniform grid, row-major — unclustered on y and z
      val grid = (0L until 4096L).map(i => (i, i % 16, (i / 16) % 16, i / 256))
        .toDF("id", "x", "y", "z")
      t.create(grid)
      t.optimizeZorder(Seq("x", "y", "z"), numFiles = 8)
      val out = t.read.select("id", "x", "y", "z")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(out == grid.as[(Long, Long, Long, Long)].collect().toSet)
      // per-file bounding box should cover an octant-ish region, not a
      // full-width slab: avg normalized volume well under half the cube
      val vols = t.read.withColumn("f", input_file_name())
        .groupBy("f")
        .agg((((fmax(col("x")) - fmin(col("x"))) + 1) *
          ((fmax(col("y")) - fmin(col("y"))) + 1) *
          ((fmax(col("z")) - fmin(col("z"))) + 1)).as("vol"))
        .select("vol").as[Long].collect()
      assert(vols.length == 8, s"changeFeed=$changeFeed: ${vols.toSeq}")
      val full = 16L * 16L * 16L
      assert(vols.sum.toDouble / vols.length <= full / 2.0,
        s"changeFeed=$changeFeed: files not clustered: vols=${vols.toSeq}")
      if (changeFeed) assertEmptyFeedRecorded(t, root)
    }
  }

  test("pruned upsert: key moving to a new partition leaves no stale row behind") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), partitionCols = Seq("p"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    // id=1 moves partition x → z: its old row in p=x must be rewritten
    // away even though the source never writes into p=x
    t.upsert(df((1L, "A2", "z")), prunePartitions = true)
    assert(rows(t) == Set((1L, "A2", "z"), (2L, "b", "y")))
    assert(t.read.filter($"id" === 1L).count() == 1)
    // p=y held no matching key → untouched (hard-linked), p=x rewritten empty
    assert(Files.isDirectory(t.currentDir.resolve("p=y")))
  }

  test("pruned upsert on a two-level-partitioned table rewrites only touched leaves") {
    import java.nio.file.Path
    val root = freshRoot
    val t = new LakeTable(spark, root, "t", Seq("id"),
      partitionCols = Seq("y", "m"))
    val base = Seq((1L, "a", "y23", "jan"), (2L, "b", "y23", "feb"),
      (3L, "c", "y24", "jan")).toDF("id", "v", "y", "m")
    t.create(base)
    def leafFiles(dir: Path): Seq[Path] =
      Files.walk(dir).toArray.map(_.asInstanceOf[Path]).toSeq
        .filter(_.toString.endsWith(".parquet"))
    def inode(p: Path): Any = Files.getAttribute(p, "unix:ino")
    val donorLeaf = t.currentDir.resolve("y=y23/m=feb")
    val donorInodes = leafFiles(donorLeaf).map(inode).toSet
    // touch only (y24, jan): update id=3, insert id=4
    t.upsert(Seq((3L, "C2", "y24", "jan"), (4L, "d", "y24", "jan"))
      .toDF("id", "v", "y", "m"), prunePartitions = true)
    val out = t.read.select("id", "v", "y", "m")
      .as[(Long, String, String, String)].collect().toSet
    assert(out == Set((1L, "a", "y23", "jan"), (2L, "b", "y23", "feb"),
      (3L, "C2", "y24", "jan"), (4L, "d", "y24", "jan")))
    // untouched leaf y=y23/m=feb was hard-linked: same inodes as the donor
    val newLeaf = t.currentDir.resolve("y=y23/m=feb")
    assert(leafFiles(newLeaf).map(inode).toSet == donorInodes,
      "untouched leaf partition was rewritten, not hard-linked")
    // touched leaf got fresh files
    val touchedLeaf = t.currentDir.resolve("y=y24/m=jan")
    assert(Files.isDirectory(touchedLeaf))
  }

  test("changesSince works across a schema-evolving upsert") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v1 = t.availableVersions.lastOption.getOrElse {
      t.upsert(df((1L, "a", "x"))); t.availableVersions.last
    }
    // widen with a new column while updating 2 and inserting 3
    t.upsert(Seq((2L, "B2", "y", 7), (3L, "c", "z", 8))
      .toDF("id", "v", "p", "extra"))
    val changes = t.changesSince(v1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(changes == Set((2L, "update_preimage"), (2L, "update_postimage"),
      (3L, "insert")))
  }

  test("changesSince detects an update whose ONLY change is in a new column") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v1 = { t.upsert(df((1L, "a", "x"))); t.availableVersions.last }
    // id=1 keeps v and p identical — only the NEW column gets a value
    t.upsert(Seq((1L, "a", "x", 7)).toDF("id", "v", "p", "extra"))
    val changes = t.changesSince(v1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(changes == Set((1L, "update_preimage"), (1L, "update_postimage")))
    // preimage carries a typed null for the then-nonexistent column
    val pre = t.changesSince(v1)
      .filter($"_change_type" === "update_preimage")
      .select("extra").as[Option[Int]].collect().toSeq
    assert(pre == Seq(None))
  }

  test("change feed incrementally maintains an aggregate (CDF consumer pattern)") {
    import org.apache.spark.sql.functions.{count => fcount, lit, sum => fsum, when}
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    // value to aggregate lives in p (as a number); group key in v
    def rows2(rs: (Long, String, Long)*) =
      rs.map { case (i, g, x) => (i, g, x.toString) }.toDF("id", "v", "p")
    t.create(rows2((1L, "g1", 10L), (2L, "g1", 20L), (3L, "g2", 5L)))
    val v1 = { t.upsert(rows2((1L, "g1", 10L))); t.availableVersions.last }
    // update 2 (20→25, stays g1), move 3 to g1 (5, group change), insert 4 in g2
    t.upsert(rows2((2L, "g1", 25L), (3L, "g1", 5L), (4L, "g2", 7L)))
    val oldAgg = t.readVersion(v1).groupBy("v")
      .agg(fsum($"p".cast("long")).as("s"), fcount(lit(1)).as("n"))
    // delta from the feed: +post/+insert, −pre/−delete
    val sign = when($"_change_type".isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val delta = t.changesSince(v1)
      .select($"v", (sign * $"p".cast("long")).as("dp"), sign.as("dn"))
      .groupBy("v").agg(fsum($"dp").as("s"), fsum($"dn").as("n"))
    val maintained = oldAgg.unionByName(delta)
      .groupBy("v").agg(fsum($"s").as("s"), fsum($"n").as("n"))
      .filter($"n" =!= 0)
      .as[(String, Long, Long)].collect().toSet
    val recomputed = t.read.groupBy("v")
      .agg(fsum($"p".cast("long")).as("s"), fcount(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().toSet
    assert(maintained == recomputed)
  }

  test("pruned and unpruned upsert agree") {
    val (r1, r2) = (freshRoot, freshRoot)
    val t1 = LakeTable(spark, r1, "t", Seq("id"), partitionCols = Seq("p"))
    val t2 = LakeTable(spark, r2, "t", Seq("id"), partitionCols = Seq("p"))
    val base = df((1L, "a", "x"), (2L, "b", "y"), (4L, "d", "y"))
    val src = df((2L, "B2", "y"), (3L, "c", "z"))
    t1.create(base); t1.upsert(src, prunePartitions = false)
    t2.create(base); t2.upsert(src, prunePartitions = true)
    assert(rows(t1) == rows(t2))
  }

  test("partitionsFromKeys: key-derived layout merges agree with the " +
      "default path and skip the matched-key target scan") {
    import org.apache.spark.sql.functions.{pmod, xxhash64}
    def bucket = pmod(xxhash64(col("id")), lit(16L)).cast("string")
    def wb(d: DataFrame) = d.withColumn("p", bucket)
    // a FAT payload so rows-scanned discriminates the (b) key scan
    val base = (1L to 4000L)
      .map(i => (i, "v" * 50 + i.toString, "")).toDF("id", "v", "p")
    val (r1, r2) = (freshRoot, freshRoot)
    val t1 = LakeTable(spark, r1, "t", Seq("id"), partitionCols = Seq("p"),
      partitionsFromKeys = true)
    val t2 = LakeTable(spark, r2, "t", Seq("id"), partitionCols = Seq("p"))
    t1.create(wb(base.drop("p"))); t2.create(wb(base.drop("p")))
    val batch = wb(df((1L, "A1", ""), (4001L, "new", ""),
      (7L, "gone", "")).drop("p"))
    // rows scanned during the key-derived merge: touched partitions
    // only — the default path's clause-(b) scan reads EVERY row's keys
    val recs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          { recs.addAndGet(e.taskMetrics.inputMetrics.recordsRead); () }
    }
    org.apache.spark.GraftListenerBridge.drainListenerBus(
      spark.sparkContext, 30000)
    spark.sparkContext.addSparkListener(listener)
    try {
      t1.upsertWithDelete(batch, col("v") === "gone")
      org.apache.spark.GraftListenerBridge.drainListenerBus(
        spark.sparkContext, 30000)
    } finally spark.sparkContext.removeSparkListener(listener)
    t2.upsertWithDelete(batch, col("v") === "gone")
    assert(rows(t1) == rows(t2), "key-derived pruning must not change answers")
    assert(!rows(t1).exists(_._1 == 7L))
    assert(rows(t1).exists(r => r._1 == 1L && r._2 == "A1"))
    // 3 batch keys touch <= 3 of 16 partitions (~250 rows each) plus
    // the batch itself; the skipped (b) scan alone would be 4000 rows
    assert(recs.get < 2000,
      s"key-derived merge scanned ${recs.get} rows — the O(table) " +
        "matched-key scan was not skipped")
  }

  test("SCD2: changed keys get history, unchanged are no-ops, reruns idempotent") {
    val t = LakeTable(spark, freshRoot, "dim", Seq("id"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val v1 = Seq((1L, "alice"), (2L, "bob")).toDF("id", "name")
    t.upsertScd2(v1, Seq("name"), t0)
    // 1 changes, 2 unchanged, 3 is new
    val v2 = Seq((1L, "alicia"), (2L, "bob"), (3L, "carol")).toDF("id", "name")
    t.upsertScd2(v2, Seq("name"), t1)
    def state = t.read
      .select("id", "name", "__is_current")
      .as[(Long, String, Boolean)].collect().toSet
    assert(state == Set(
      (1L, "alice", false), (1L, "alicia", true), // closed + new version
      (2L, "bob", true),                          // untouched no-op
      (3L, "carol", true)))                       // new key
    // closed row carries the close-out timestamp
    val closed = t.read.filter(!$"__is_current")
      .select("__valid_to").as[java.sql.Timestamp].head()
    assert(closed == t1)
    // rerunning the same batch at the same asOf is a no-op
    t.upsertScd2(v2, Seq("name"), t1)
    assert(state.size == 4)
  }

  test("scd2Lookup resolves each fact to its effective version") {
    val t = LakeTable(spark, freshRoot, "dim", Seq("id"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    t.upsertScd2(Seq((1L, "v1")).toDF("id", "v"), Seq("v"), t0)
    t.upsertScd2(Seq((1L, "v2")).toDF("id", "v"), Seq("v"), t1)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val facts = Seq(
      (1L, ts("2023-12-01 00:00:00")), // before first version -> drops
      (1L, ts("2024-01-15 00:00:00")), // inside v1
      (1L, ts("2024-02-01 00:00:00")), // boundary: valid_from inclusive
      (9L, ts("2024-01-15 00:00:00"))  // unknown key -> drops
    ).toDF("id", "fact_ts")
    val out = LakeTable.scd2Lookup(facts, t.read, Seq("id"), "fact_ts")
      .select("id", "fact_ts", "v").as[(Long, java.sql.Timestamp, String)]
      .collect().toSet
    assert(out == Set(
      (1L, ts("2024-01-15 00:00:00"), "v1"),
      (1L, ts("2024-02-01 00:00:00"), "v2")))
  }

  test("SCD2 detects a null<->value swap between tracked columns") {
    // hash-based change detection misses this (hash functions skip null
    // inputs): (phone=null, fax=555) vs (phone=555, fax=null)
    val t = LakeTable(spark, freshRoot, "dim", Seq("id"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val v1 = Seq((1L, Option.empty[String], Some("555")))
      .toDF("id", "phone", "fax")
    val v2 = Seq((1L, Some("555"), Option.empty[String]))
      .toDF("id", "phone", "fax")
    t.upsertScd2(v1, Seq("phone", "fax"), t0)
    t.upsertScd2(v2, Seq("phone", "fax"), t1)
    val state = t.read.select("id", "phone", "fax", "__is_current")
      .as[(Long, Option[String], Option[String], Boolean)].collect().toSet
    assert(state == Set(
      (1L, None, Some("555"), false),
      (1L, Some("555"), None, true)))
  }

  test("a crashed write (stale staging dir) never corrupts the table") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    // simulate a writer that died after staging, before publish
    val staging = java.nio.file.Paths.get(root, ".staging_t")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.writeString(staging.resolve("garbage.parquet"), "junk")
    assert(rows(t) == Set((1L, "a", "x"))) // readers unaffected
    t.upsert(df((2L, "b", "y"))) // next writer replaces the stale staging
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
  }

  test("describeDetail reports every retained snapshot with real sizes") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "y")))
    val d = t.describeDetail
      .as[(Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(d.map(_._1).toSeq == Seq(1, 2))
    assert(d.forall(r => r._2 >= 1 && r._3 > 0)) // files exist, bytes > 0
    assert(d.filter(_._4).map(_._1).toSeq == Seq(2)) // v2 is current
  }

  test("shallow clone: same rows, then both sides diverge independently") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val c = t.cloneTo("t2")
    assert(rows(c) == rows(t))
    // diverge: write to the clone, delete from the original
    c.upsert(df((3L, "c", "z")))
    t.delete($"id" === 1L)
    assert(rows(c) == Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    assert(rows(t) == Set((2L, "b", "y")))
    // vacuum on the original must not break the clone (shared hard links)
    t.vacuum()
    assert(rows(c).size == 3)
    intercept[IllegalArgumentException](t.cloneTo("t2")) // target exists
  }

  test("vacuum drops prior snapshots, keeps the current version readable") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "y")))
    assert(t.availableVersions.nonEmpty)
    t.vacuum()
    assert(t.availableVersions.isEmpty)
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
    intercept[IllegalArgumentException](t.readVersion(1))
  }

  // ---- write-time change feed (round 9) ----

  /** No residue of the staged union write's discriminators (`__fdst=i`,
    * `__fpart<j>=V` dirs) anywhere under `dir`. */
  private def noDiscriminatorDirs(dir: java.nio.file.Path): Boolean =
    scala.util.Using.resource(Files.walk(dir))(_.noneMatch { p =>
      val n = p.getFileName.toString
      n.startsWith("__fdst=") || n.startsWith("__fpart")
    })

  private def changeSet(t: LakeTable, since: Int) =
    t.changesSince(since).select("id", "_change_type", "v")
      .as[(Long, String, String)].collect().toSet

  // `__dest` in the name is the union write's destination discriminator,
  // whose column is now called `__fdst`
  test("fused feed write (round-16 wave 5): the staged layout is the " +
      "canonical one — no __dest/_change_type leak into reads, an " +
      "EMPTY-feed DML keeps feed coverage contiguous, and replay " +
      "crosses fused and pre-fused dirs") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v0 = t.version
    // fused upsert (data + feed in one action)
    t.upsert(df((2L, "B", "y"), (3L, "c", "z")))
    // reads expose ONLY the logical schema — the physical all-NULL
    // _change_type alignment column and the __fdst discriminator must
    // be invisible through every read path
    assert(t.read.columns.toSeq == Seq("id", "v", "p"))
    assert(t.readVersion(t.availableVersions.last).columns.toSeq ==
      Seq("id", "v", "p"))
    assert(rows(t) == Set((1L, "a", "x"), (2L, "B", "y"), (3L, "c", "z")))
    // no stray partition dirs in the published version
    assert(noDiscriminatorDirs(t.currentDir) &&
      noDiscriminatorDirs(java.nio.file.Paths.get(root, "t", "changes")))
    // NO-OP upsert: zero feed events, but the partitioned-writer-emits-
    // no-dir-for-an-empty-branch case must still record an (empty) feed
    // so coverage stays contiguous for the fast path
    t.upsert(df((3L, "c", "z")))
    val v2 = t.version
    assert(Files.isDirectory(
      java.nio.file.Paths.get(root, "t", "changes", s"v$v2")))
    // fused delete
    t.delete($"id" === 1L)
    // replay across the whole span (fused upserts + empty feed + fused
    // delete) answers from the feed log — prune the old snapshots so a
    // snapshot-diff fallback would throw instead of masking a gap
    t.pruneChangeFeed(v0) // no-op for coverage; asserts the API path
    val got = changeSet(t, v0)
    assert(got == Set((2L, "update_preimage", "b"),
      (2L, "update_postimage", "B"), (3L, "insert", "c"),
      (1L, "delete", "a")))
  }

  test("change feed over a single write equals the snapshot diff exactly") {
    val root = freshRoot
    val feed = LakeTable(spark, root, "f", Seq("id"), changeFeed = true)
    val diff = LakeTable(spark, root, "d", Seq("id"))
    for (t <- Seq(feed, diff)) {
      t.create(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
      t.upsert(df((2L, "B2", "y"), (2L, "B2", "y").copy(_1 = 4L))) // upd + ins
    }
    val s = diff.availableVersions.last
    assert(changeSet(feed, feed.availableVersions.last) == changeSet(diff, s))
    for (t <- Seq(feed, diff)) t.delete($"id" === 1L)
    // spans (delete only): both classify the same delete
    val fd = feed.changesSince(feed.version - 1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    val dd = diff.changesSince(diff.version - 1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(fd == dd && fd == Set((1L, "delete")))
  }

  test("feed answers changesSince AFTER the base snapshot is pruned " +
      "(the snapshot diff throws) — the CDC-log retention win") {
    val root = freshRoot
    val feed = LakeTable(spark, root, "f", Seq("id"), changeFeed = true)
    val diff = LakeTable(spark, root, "d", Seq("id"))
    for (t <- Seq(feed, diff)) t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v0 = feed.version
    // three writes: keepVersions=2 prunes the create snapshot
    for (t <- Seq(feed, diff)) {
      t.upsert(df((3L, "c", "z")))
      t.upsert(df((1L, "A2", "x")))
      t.delete($"id" === 2L)
    }
    assert(!feed.availableVersions.contains(v0))
    intercept[IllegalArgumentException](diff.changesSince(v0))
    val got = changeSet(feed, v0)
    assert(got == Set((3L, "insert", "c"), (1L, "update_preimage", "a"),
      (1L, "update_postimage", "A2"), (2L, "delete", "b")))
  }

  test("feed survives schema evolution and layout-only writes keep " +
      "coverage contiguous") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v0 = t.version
    t.upsert(df((3L, "c", "z"))) // pre-evolution feed lacks the new column
    t.compact(1)                 // layout-only: empty feed, not a gap
    t.upsert(Seq((2L, "b", "y", 9L)).toDF("id", "v", "p", "extra"))
    val got = t.changesSince(v0)
      .select("id", "_change_type", "extra").as[(Long, String, Option[Long])]
      .collect().toSet
    // the old feed's rows align to the evolved schema with null extra;
    // update 2's only change IS the new column (null -> 9)
    assert(got == Set((3L, "insert", None), (2L, "update_preimage", None),
      (2L, "update_postimage", Some(9L))))
  }

  test("feed on a PARTITIONED table: pruned upsert records the same " +
      "events as the unpartitioned snapshot diff") {
    val root = freshRoot
    val feed = LakeTable(spark, root, "fp", Seq("id"), Seq("p"),
      changeFeed = true)
    val diff = LakeTable(spark, root, "dp", Seq("id"))
    for (t <- Seq(feed, diff)) {
      t.create(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "x")))
      // update 1 in place, MOVE 2 across partitions, insert 4
      t.upsert(df((1L, "A2", "x"), (2L, "b", "z"), (4L, "d", "w")))
    }
    val got = changeSet(feed, feed.availableVersions.last)
    assert(got == changeSet(diff, diff.availableVersions.last))
    assert(got == Set((1L, "update_preimage", "a"),
      (1L, "update_postimage", "A2"), (2L, "update_preimage", "b"),
      (2L, "update_postimage", "b"), (4L, "insert", "d")))
    // the feed rows carry the moved partition value on the postimage
    val moved = feed.changesSince(feed.availableVersions.last)
      .filter($"id" === 2L).select("_change_type", "p")
      .as[(String, String)].collect().toMap
    assert(moved == Map("update_preimage" -> "y", "update_postimage" -> "z"))
  }

  test("pruneChangeFeed bounds the CDC log: uncovered spans fall back " +
      "to the snapshot diff (loud when that's also pruned)") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x")))
    val v0 = t.version
    t.upsert(df((2L, "b", "y")))
    t.upsert(df((3L, "c", "z")))
    val v2 = t.version
    t.upsert(df((4L, "d", "w")))
    // full feed coverage first
    assert(changeSet(t, v0).map(_._1) == Set(2L, 3L, 4L))
    t.pruneChangeFeed(keepSince = v2 + 1)
    // span needing pruned feeds AND a pruned snapshot → loud failure
    assert(!t.availableVersions.contains(v0))
    intercept[IllegalArgumentException](t.changesSince(v0))
    // span fully covered by surviving feeds still answers from the log
    assert(changeSet(t, v2).map(_._1) == Set(4L))
    // span whose snapshot IS retained answers via the diff fallback
    val retained = t.availableVersions.min
    assert(changeSet(t, retained).nonEmpty ||
      t.changesSince(retained).isEmpty)
  }

  test("transactional _meta.json: committed with the upsert, carried " +
      "forward by every other write, merged not replaced") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    assert(t.meta.isEmpty)
    t.upsert(df((2L, "b", "y")), meta = Map("app1" -> "7"))
    assert(t.meta == Map("app1" -> "7"))
    // non-meta writes carry it forward
    t.delete($"id" === 99L) // no-op delete, still a new version
    t.compact(1)
    assert(t.meta == Map("app1" -> "7"))
    // a later meta upsert MERGES (other apps' markers survive)
    t.upsert(df((3L, "c", "z")), meta = Map("app2" -> "1"))
    assert(t.meta == Map("app1" -> "7", "app2" -> "1"))
    t.upsert(df((4L, "d", "w")), meta = Map("app1" -> "8"))
    assert(t.meta == Map("app1" -> "8", "app2" -> "1"))
    // time travel still reads the data rows fine (the underscore file
    // is invisible to the parquet reader)
    assert(rows(t).size == 4)
  }

  test("CHECK constraints: add validates existing rows, DML fails " +
      "loudly leaving no trace, NULLs pass, drop re-admits, meta survives") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    t.upsert(df((3L, "c", "z")), meta = Map("app1" -> "7"))
    // the add itself validates EXISTING rows
    intercept[IllegalStateException] { t.addCheckConstraint("bad", "id > 10") }
    assert(t.checkConstraints.isEmpty)
    t.addCheckConstraint("small_id", "id < 100")
    t.addCheckConstraint("no_xx", "v <> 'XX'")
    assert(t.checkConstraints ==
      Map("small_id" -> "id < 100", "no_xx" -> "v <> 'XX'"))
    // the metadata-only publish carried other apps' markers forward
    assert(t.meta("app1") == "7")
    // good write passes; violating upsert fails and leaves NO trace
    t.upsert(df((4L, "d", "w")))
    val v = t.version
    intercept[IllegalStateException] { t.upsert(df((200L, "e", "q"))) }
    assert(t.version == v && rows(t).size == 4)
    // update post-images are checked (only matched rows can violate)
    intercept[IllegalStateException] {
      t.update($"id" === 4L, Map("v" -> lit("XX")))
    }
    assert(rows(t).contains((4L, "d", "w")))
    // SQL CHECK semantics: a NULL predicate passes
    t.upsert(Seq((5L, Option.empty[String], Option("pp")))
      .toDF("id", "v", "p"))
    assert(rows(t).contains((5L, null, "pp")))
    // drop re-admits
    t.dropCheckConstraint("no_xx")
    t.update($"id" === 4L, Map("v" -> lit("XX")))
    assert(t.checkConstraints.keySet == Set("small_id"))
    assert(rows(t).contains((4L, "XX", "w")))
  }

  test("upsertWithDelete: update + insert + matched-delete in ONE " +
      "atomic version, meta rides the same commit, feed typed correctly") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    val v0 = t.version
    // one batch: update id 1, insert id 4, DELETE id 2, and a delete
    // for a key with no target match (no-op, like SQL DELETE). The
    // condition rides a regular data column — the documented IVM usage
    // (n <= 0 over the merged view rows).
    val batch = df((1L, "A2", "x"), (4L, "d", "w"),
      (2L, "DEAD", "y"), (99L, "DEAD", "g"))
    t.upsertWithDelete(batch, $"v" === "DEAD", meta = Map("batch" -> "7"))
    assert(t.version == v0 + 1, "everything must land in ONE commit")
    assert(t.meta == Map("batch" -> "7"))
    val got = t.read.select("id", "v", "p")
      .as[(Long, String, String)].collect().toSet
    assert(got.map(_._1) == Set(1L, 3L, 4L))
    assert(got.contains((1L, "A2", "x")) && got.contains((4L, "d", "w")))
    // feed: typed upsert events for survivors + a delete event carrying
    // the PRE-delete target image for id 2; the ghost key emits nothing
    val ev = t.changesSince(v0).select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(ev == Set((1L, "update_preimage"), (1L, "update_postimage"),
      (4L, "insert"), (2L, "delete")), s"got $ev")
  }

  test("upsertWithDelete on a missing table creates it from survivors; " +
      "NULL delete conditions upsert (SQL semantics)") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    val batch = Seq((1L, "a", "x", Some(false)), (2L, "b", "y", Some(true)),
      (3L, "c", "z", Option.empty[Boolean])).toDF("id", "v", "p", "__kill")
    t.upsertWithDelete(batch, $"__kill")
    assert(t.read.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("create is DDL-replace: metadata AND constraints reset, and the " +
      "replacing data is not gated by the dropped constraints") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "y")), meta = Map("app1" -> "7"))
    t.addCheckConstraint("small_id", "id < 100")
    // rows violating the (about-to-be-reset) constraint replace freely
    t.create(df((500L, "big", "q")))
    assert(t.meta.isEmpty, "create must reset committed metadata")
    assert(t.checkConstraints.isEmpty, "create must reset constraints")
    assert(rows(t) == Set((500L, "big", "q")))
    // and a fresh constraint regime starts clean on the new data
    t.addCheckConstraint("big_id", "id > 100")
    intercept[IllegalStateException] { t.upsert(df((5L, "small", "s"))) }
  }

  test("a crashed publish (orphan version dir beyond the pointer) " +
      "never surfaces in availableVersions and is reclaimed by the " +
      "next write") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "y")))
    val cur = t.version
    // simulate a crash AFTER the staging→version move, BEFORE the
    // pointer swap: a fully-written version dir beyond the pointer
    val orphan = t.currentDir.resolveSibling(s"v${cur + 1}")
    df((99L, "GARBAGE", "g")).write.parquet(orphan.toString)
    // readers are unaffected and the orphan is not a time-travel target
    assert(t.version == cur)
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
    assert(!t.availableVersions.contains(cur + 1),
      s"orphan surfaced as a retained snapshot: ${t.availableVersions}")
    // the next write reclaims the orphan slot cleanly
    t.upsert(df((3L, "c", "z")))
    assert(t.version == cur + 1)
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    assert(!rows(t).exists(_._2 == "GARBAGE"))
    // and the displaced real snapshot is still readable time travel
    assert(t.readVersion(cur).count() == 2)
  }

  test("a crashed publish's FEED orphan (changes/v beyond the pointer) " +
      "is reclaimed: never streamed, never attributed to a later " +
      "feed-less write") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    t.upsert(df((3L, "c", "z"))) // records feed v2
    val cur = t.version
    // simulate a crash AFTER the feed move, BEFORE the pointer swap: a
    // fully-written changes/v{cur+1} for a never-committed version
    val orphanFeed = t.currentDir.getParent
      .resolve("changes").resolve(s"v${cur + 1}")
    def plantOrphan(): Unit =
      df((99L, "GARBAGE", "g")).withColumn("_change_type", lit("delete"))
        .write.parquet(orphanFeed.toString)
    plantOrphan()
    // (a) a streaming subscription must deliver the COMMITTED feed but
    // not the orphan's events — the v* glob can't be pointer-bounded,
    // so subscription itself reclaims the residue
    val drained = graft.streaming.Streams.drainAppend(
      t.readChangeFeedStream, s"feed_orphan_${System.nanoTime()}")
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(drained.contains((3L, "insert")), s"committed feed lost: $drained")
    assert(!drained.exists(_._1 == 99L),
      s"never-committed events streamed: $drained")
    assert(Files.notExists(orphanFeed), "subscription must reclaim the orphan")
    // (b) re-plant; the next write is FEED-LESS (create = DDL-replace)
    // and lands its data at the orphan's version number — the stale
    // feed must not be attributed to it: changesSince falls back to
    // the honest snapshot diff instead of replaying the crashed op
    plantOrphan()
    t.create(df((5L, "e", "w")))
    assert(t.version == cur + 1)
    assert(Files.notExists(orphanFeed), "publish must sweep the feed orphan")
    assert(changeSet(t, cur) == Set((1L, "delete", "a"), (2L, "delete", "b"),
      (3L, "delete", "c"), (5L, "insert", "e")))
  }

  test("feed UPDATE records only genuinely changed rows; no-op " +
      "assignments produce no events") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v0 = t.version
    t.update($"id" === 1L, Map("v" -> lit("a"))) // no-op: same value
    t.update($"id" === 2L, Map("v" -> lit("B")))
    assert(changeSet(t, v0) == Set((2L, "update_preimage", "b"),
      (2L, "update_postimage", "B")))
  }

  test("a corrupt CURRENT pointer fails every operation LOUDLY and the " +
      "next write never reclaims live versions as orphans") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"))
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "y")))
    val pointer = java.nio.file.Paths.get(root, "t", "CURRENT")
    val good = Files.readString(pointer)
    Files.writeString(pointer, "garbage!!")
    // absent and unparseable are DIFFERENT: reads, probes, and writes
    // must all refuse rather than treat the table as empty (a write
    // with cur=0 would reclaim every live version dir as an orphan)
    intercept[IllegalStateException] { t.exists }
    intercept[IllegalStateException] { t.read }
    intercept[IllegalStateException] { t.upsert(df((3L, "c", "z"))) }
    val dirs = Files.list(java.nio.file.Paths.get(root, "t")).toArray
      .map(_.toString).count(_.matches(".*v\\d+$"))
    assert(dirs == 2, s"both version dirs must survive, saw $dirs")
    // manual repair (the documented recovery) restores everything
    Files.writeString(pointer, good)
    assert(rows(t) == Set((1L, "a", "x"), (2L, "b", "y")))
  }

  test("upsertWithDelete rejects a source with duplicate merge keys " +
      "(survivor + delete-marker for one key = Delta's multiple-match error)") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v0 = t.version
    // one batch carrying BOTH a survivor and a delete-marked row for
    // id 1 — accepted silently, this would stage a delete pre-image
    // AND update pre/post events for the same target row. The guard
    // rides the merge pass (raise_error folded into the key column),
    // so it surfaces as a runtime failure of the write job.
    def messages(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    val batch = df((1L, "A2", "x"), (1L, "DEAD", "x"))
    val e = intercept[Exception] { t.upsertWithDelete(batch, $"v" === "DEAD") }
    assert(messages(e).exists(_.contains("multiple rows for merge key")),
      s"got $e")
    assert(t.version == v0, "nothing may publish")
    // plain duplicate source rows (no delete marker) are equally fatal
    val e2 = intercept[Exception] {
      t.upsertWithDelete(df((3L, "c", "z"), (3L, "c2", "z")), lit(false))
    }
    assert(messages(e2).exists(_.contains("multiple rows for merge key")))
  }

  test("upsertWithDelete on a missing table commits the meta map WITH " +
      "the implicit create (exactly-once marker survives)") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"))
    t.upsertWithDelete(df((1L, "a", "x"), (2L, "DEAD", "y")),
      $"v" === "DEAD", meta = Map("ivm_last_batch_x" -> "5"))
    assert(rows(t) == Set((1L, "a", "x")))
    assert(t.meta == Map("ivm_last_batch_x" -> "5"),
      "a streaming maintainer's batch marker must not be dropped by the " +
        "implicit-create path, or the next drain re-applies the batch")
    // plain upsert-create path carries meta identically
    val t2 = LakeTable(spark, freshRoot, "t2", Seq("id"))
    t2.upsert(df((1L, "a", "x")), meta = Map("m" -> "1"))
    assert(t2.meta == Map("m" -> "1"))
  }

  private def feedScanCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size

  test("feed replay plan is O(schema epochs), not O(versions): many " +
      "same-schema versions collapse into one scan per epoch") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x")))
    val v0 = t.version
    (1 to 8).foreach(i => t.upsert(df((i.toLong, s"v$i", "x"))))
    // additive schema evolution starts a second epoch
    t.upsert(Seq((100L, "n", "x", 7L)).toDF("id", "v", "p", "extra"))
    (1 to 4).foreach(i => t.upsert(
      Seq((i.toLong, s"w$i", "x", i.toLong)).toDF("id", "v", "p", "extra")))
    val ch = t.changesSince(v0)
    assert(feedScanCount(ch) == 2,
      s"13 feed versions in 2 schema epochs must plan as 2 scans, " +
        s"got ${feedScanCount(ch)}:\n${ch.queryExecution.executedPlan}")
    // every feed dir carries the write-time schema fingerprint (the
    // O(epochs)-footer-probe key); a dir that LOST it (pre-fp history)
    // must key identically via the footer-probe fallback — same
    // rendering, so the epoch grouping is unchanged
    val fp2 = java.nio.file.Paths.get(t.currentDir.getParent.toString,
      "changes", "v2", "_schema_fp")
    assert(Files.exists(fp2), "feed dirs must carry _schema_fp")
    Files.delete(fp2)
    assert(feedScanCount(t.changesSince(v0)) == 2,
      "fp-less dir must group identically via the footer fallback")
    // and the replay is still correct: signed composition == final state
    val sign = when(col("_change_type").isin("insert", "update_postimage"),
      1).otherwise(-1)
    val net = ch.groupBy("id").agg(sum(sign).as("s"))
      .filter(col("s") =!= 0).select("id").as[Long].collect().toSet
    val inserted = t.read.select("id").as[Long].collect().toSet - 1L // id 1 pre-existed
    assert(net == inserted, s"net-inserted keys $net != $inserted")
  }

  test("compactChangeFeed: one net dir replaces the span, canceling " +
      "chains vanish, maintained view == uncompacted replay") {
    import graft.table.IncrementalView
    val root = freshRoot
    def build(name: String): LakeTable = {
      val t = LakeTable(spark, root, name, Seq("id"), changeFeed = true)
      t.create(df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y")))
      t.upsert(df((2L, "B2", "x"), (4L, "d", "y"))) // update + insert
      t.delete($"id" === 4L)                        // insert→delete chain
      t.upsert(df((2L, "b", "x"), (5L, "e", "y")))  // revert 2 + insert 5
      t
    }
    val plain = build("plain")
    val compacted = build("compacted")
    compacted.compactChangeFeed(1, compacted.version)
    // net: id 2 reverted → NO event; id 4 inserted+deleted → NO event;
    // id 5 → one insert. Exactly the snapshot diff over the span.
    val net = compacted.changesSince(1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(net == Set((5L, "insert")), s"got $net")
    assert(feedScanCount(compacted.changesSince(1)) == 1)
    // interior feed dirs are reclaimed; the marker dir carries the span
    val changes = java.nio.file.Paths.get(root, "compacted", "changes")
    val dirs = Files.list(changes).toArray.map(_.toString.split('/').last).toSet
    assert(dirs == Set(s"v${compacted.version}"), s"got $dirs")
    // a view maintained across the compacted span == across the raw log
    // (both initialized from the span-start state the tables were
    // created with)
    val initial = df((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"))
    val vp = LakeTable(spark, root, "view_plain", Seq("p"))
    val vc = LakeTable(spark, root, "view_comp", Seq("p"))
    vp.create(IncrementalView.sumView(initial, Seq("p"), "id"))
    vc.create(IncrementalView.sumView(initial, Seq("p"), "id"))
    IncrementalView.maintainSumView(plain, vp, Seq("p"), "id", 1)
    IncrementalView.maintainSumView(compacted, vc, Seq("p"), "id", 1)
    def snap(v: LakeTable) = v.read.select(col("p"), col("n"),
      col("sum_value").cast("string")).as[(String, Long, String)]
      .collect().toSet
    assert(snap(vc) == snap(vp) && snap(vp).nonEmpty)
  }

  test("compaction safety: a mid-span consumer falls back to the " +
      "snapshot diff (loud when pruned), and superseded interior " +
      "residue is never double-counted") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "x")))
    t.upsert(df((3L, "c", "x")))
    t.upsert(df((4L, "d", "x")))
    t.upsert(df((5L, "e", "x")))
    t.compactChangeFeed(1, 5)
    // consumer synced INSIDE the span at a RETAINED snapshot: the net
    // at v5 starts before its sync point, so the feed cannot serve it —
    // correct snapshot-diff fallback (v4 retained under keepVersions=2)
    assert(t.changesSince(4).select("id", "_change_type")
      .as[(Long, String)].collect().toSet == Set((5L, "insert")))
    // consumer synced INSIDE the span at a PRUNED snapshot: fallback is
    // LOUD, never a silently incomplete delta
    val e = intercept[IllegalArgumentException] { t.changesSince(2) }
    assert(e.getMessage.contains("not retained"))
    // consumer at the span start replays the net exactly
    assert(t.changesSince(1).select("id", "_change_type")
      .as[(Long, String)].collect().toSet ==
      Set((2L, "insert"), (3L, "insert"), (4L, "insert"), (5L, "insert")))
    // crash-window residue: an interior dir that survived the sweep is
    // superseded by the marker span and must be SKIPPED, not added
    val ghost = df((999L, "ghost", "x"))
      .withColumn("_change_type", lit("insert"))
    ghost.write.parquet(
      java.nio.file.Paths.get(root, "t", "changes", "v2").toString)
    val replay = t.changesSince(1).select("id").as[Long].collect().toSet
    assert(!replay.contains(999L),
      s"superseded interior residue leaked into the replay: $replay")
  }

  test("describeChangeFeed reports per-dir coverage, compaction spans, " +
      "and real sizes") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "x")))          // v2
    t.upsert(df((3L, "c", "x")))          // v3
    t.upsert(df((4L, "d", "x")))          // v4
    def snap = t.describeChangeFeed
      .select("version", "covers_from", "is_compacted")
      .as[(Int, Int, Boolean)].collect().toSet
    assert(snap == Set((2, 1, false), (3, 2, false), (4, 3, false)))
    t.compactChangeFeed(1, 3)
    assert(snap == Set((3, 1, true), (4, 3, false)),
      "the net dir must report its recorded span; interiors are gone")
    assert(t.describeChangeFeed.filter($"bytes" <= 0L || $"n_files" <= 0L)
      .isEmpty, "every reported dir has real files and sizes")
  }

  test("compaction composes transitively (a compacted dir inside a " +
      "later span) and refuses to split an existing span") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x")))
    t.upsert(df((2L, "b", "x")))          // v2
    t.upsert(df((2L, "B2", "x")))         // v3: update 2
    t.compactChangeFeed(1, 3)             // net at v3 covering (1,3]
    t.upsert(df((3L, "c", "x")))          // v4
    t.delete($"id" === 2L)                // v5
    // second compaction spans the first's net dir: events compose
    // transitively — id 2's insert@net + delete@v5 cancels entirely
    t.compactChangeFeed(1, 5)
    assert(t.changesSince(1).select("id", "_change_type")
      .as[(Long, String)].collect().toSet == Set((3L, "insert")))
    // a span that would SPLIT the existing compacted span must refuse
    t.upsert(df((4L, "d", "x")))          // v6
    val e = intercept[IllegalStateException] { t.compactChangeFeed(3, 6) }
    assert(e.getMessage.contains("incomplete"))
  }

  test("compaction across a schema-evolving span: net events align to " +
      "the CURRENT schema and replay correctly") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "x"))) // id 2 pre-exists the span
    t.upsert(df((2L, "b2", "x")))                            // old epoch
    t.upsert(Seq((3L, "c", "x", 7L)).toDF("id", "v", "p", "extra"))
    t.upsert(Seq((2L, "b", "x", 9L)).toDF("id", "v", "p", "extra"))
    t.compactChangeFeed(1, t.version)
    val got = t.changesSince(1)
      .select("id", "_change_type", "extra")
      .as[(Long, String, Option[Long])].collect().toSet
    // id 2: pre-image from the OLD epoch (extra = null), post from the
    // new; id 3 a plain insert carrying its value
    assert(got == Set(
      (2L, "update_preimage", None), (2L, "update_postimage", Some(9L)),
      (3L, "insert", Some(7L))), s"got $got")
    assert(feedScanCount(t.changesSince(1)) == 1)
  }

  // ---- partitioned fused feed write (round 17) ----

  test("partitioned fused feed write: canonical Hive layout, flat feed " +
      "dirs, NULL partition values, empty-feed coverage, replay across " +
      "fused and pre-fused epochs") {
    val root = freshRoot
    val t = LakeTable(spark, root, "t", Seq("id"),
      partitionCols = Seq("p"), changeFeed = true)
    t.create(df((1L, "a", "x"), (2L, "b", "y")))
    val v0 = t.version
    // fused partitioned upsert: data partitions + feed in ONE action
    t.upsert(df((2L, "B", "y"), (3L, "c", "z")))
    assert(t.read.columns.toSeq == Seq("id", "v", "p"))
    assert(rows(t) == Set((1L, "a", "x"), (2L, "B", "y"), (3L, "c", "z")))
    // canonical partition dirs only — no discriminator residue
    val cur = t.currentDir
    assert(Files.isDirectory(cur.resolve("p=y")) &&
      Files.isDirectory(cur.resolve("p=z")))
    assert(noDiscriminatorDirs(cur) &&
      noDiscriminatorDirs(java.nio.file.Paths.get(root, "t", "changes")))
    // hard-link reuse still applies: untouched p=x rode over from the donor
    assert(Files.isDirectory(cur.resolve("p=x")))
    // NULL partition value lands in the Hive default-partition dir
    t.upsert(Seq((4L, "d", null.asInstanceOf[String])).toDF("id", "v", "p"))
    assert(Files.isDirectory(
      t.currentDir.resolve("p=__HIVE_DEFAULT_PARTITION__")))
    // NO-OP upsert: the empty feed must still be recorded for coverage
    t.upsert(df((3L, "c", "z")))
    val vNoop = t.version
    assert(Files.isDirectory(
      java.nio.file.Paths.get(root, "t", "changes", s"v$vNoop")))
    // fused partitioned delete
    t.delete($"id" === 1L)
    val got = changeSet(t, v0)
    assert(got == Set((2L, "update_preimage", "b"),
      (2L, "update_postimage", "B"), (3L, "insert", "c"),
      (4L, "insert", "d"), (1L, "delete", "a")), s"got $got")
  }

  test("partitioned fused feed write refuses reserved column names " +
      "(__dest/__fpart/_change_type) instead of silently dropping data") {
    val t = LakeTable(spark, freshRoot, "t", Seq("id"),
      partitionCols = Seq("p"), changeFeed = true)
    t.create(df((1L, "a", "x")))
    val bad = Seq((2L, "b", "y", "boom")).toDF("id", "v", "p", "__fpart")
    intercept[IllegalArgumentException](t.upsert(bad))
  }

  // ---- fused multi-table commits (round 17) ----

  test("commitFused: a mixed batch (create + unpartitioned merge + " +
      "pruned partitioned merge) lands each table's canonical layout " +
      "with its meta, leaves no scratch, and reads stay clean") {
    val root = freshRoot
    val a = LakeTable(spark, root, "a", Seq("id"))
    val b = LakeTable(spark, root, "b", Seq("id"))
    val c = LakeTable(spark, root, "c", Seq("id"),
      partitionCols = Seq("p"))
    b.create(df((1L, "a", "x"), (2L, "b", "y")))
    c.create(df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z")))
    val pA = a.pendingCreate(df((9L, "n", "w")), Map("k" -> "v"))
    val pB = b.pendingUpsertWithDelete(
      df((2L, "B", "y"), (3L, "c", "z"), (1L, "dead", "x")),
      col("v") === "dead", meta = Map("span" -> "s1"))
    val pC = c.pendingUpsertWithDelete(df((2L, "B", "y")), lit(false))
    LakeTable.commitFused(Seq(pA, pB, pC))
    assert(rows(a) == Set((9L, "n", "w")))
    assert(rows(b) == Set((2L, "B", "y"), (3L, "c", "z")))
    assert(rows(c) == Set((1L, "a", "x"), (2L, "B", "y"), (3L, "c", "z")))
    // meta landed atomically with each table's version
    assert(a.meta.get("k").contains("v"))
    assert(b.meta.get("span").contains("s1"))
    // no reserved-column residue in any read
    for (t <- Seq(a, b, c))
      assert(!t.read.columns.exists(n => n == "__fdst" || n == "__fpart"),
        s"${t.read.columns.toSeq}")
    // the batch's scratch dir (named after its first table) is gone
    assert(!Files.isDirectory(java.nio.file.Paths.get(root, ".fused_a")))
    for (t <- Seq(a, b, c)) assert(noDiscriminatorDirs(t.currentDir))
    // pruned merge still hard-links untouched partitions
    assert(Files.isDirectory(c.currentDir.resolve("p=x")) &&
      Files.isDirectory(c.currentDir.resolve("p=z")))
  }

  test("commitFused refuses a batch whose shared column name is typed " +
      "differently across tables (the union would widen physical files " +
      "away from the committed sidecar)") {
    val root = freshRoot
    val a = LakeTable(spark, root, "a", Seq("id"))
    val b = LakeTable(spark, root, "b", Seq("id"))
    val pA = a.pendingCreate(Seq((1L, 1)).toDF("id", "x"))
    val pB = b.pendingCreate(Seq((1L, 1L)).toDF("id", "x"))
    intercept[IllegalArgumentException](LakeTable.commitFused(Seq(pA, pB)))
  }

  test("pendingUpsertWithDelete touchedPartsHint: a correct complete " +
      "hint produces the identical merge as the self-derived touched " +
      "set — rewritten, deleted, and hard-linked partitions included") {
    def mk(root: String, name: String) = LakeTable(spark, root, name,
      Seq("id"), partitionCols = Seq("pb"), partitionsFromKeys = true)
    def pb(id: Long) = (id % 4).toString
    def frame(ids: (Long, String)*) =
      ids.map { case (id, v) => (id, v, pb(id)) }.toDF("id", "v", "pb")
    val root = freshRoot
    val hinted = mk(root, "h"); val plain = mk(root, "p")
    val init = frame(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d",
      5L -> "e", 6L -> "f")
    hinted.create(init); plain.create(init)
    // batch touches ids 1 (update), 5 (delete), 8 (insert) — partitions
    // pb=1 (1, 5) and pb=0 (8); pb=2/3 must hard-link untouched
    val batch = frame(1L -> "A", 5L -> "dead", 8L -> "h")
    val hint = Some(Seq("1", "0").map(v => Some(v): Option[String]))
    LakeTable.commitFused(Seq(hinted.pendingUpsertWithDelete(
      batch, col("v") === "dead", touchedPartsHint = hint)))
    LakeTable.commitFused(Seq(plain.pendingUpsertWithDelete(
      batch, col("v") === "dead")))
    def rows3(t: LakeTable) = t.read.select("id", "v", "pb").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows3(hinted) == rows3(plain), s"${rows3(hinted)}")
    assert(rows3(hinted) == Set((1L, "A", "1"), (2L, "b", "2"),
      (3L, "c", "3"), (4L, "d", "0"), (6L, "f", "2"), (8L, "h", "0")))
    // untouched partitions hard-linked into the new version
    assert(Files.isDirectory(hinted.currentDir.resolve("pb=2")) &&
      Files.isDirectory(hinted.currentDir.resolve("pb=3")))
  }

  test("commitFused publish order is the pending order (crash contract: " +
      "a single-pending batch degenerates to the plain staged write)") {
    val root = freshRoot
    val a = LakeTable(spark, root, "a", Seq("id"))
    LakeTable.commitFused(Seq(a.pendingCreate(df((1L, "a", "x")))))
    assert(rows(a) == Set((1L, "a", "x")))
    // second fused batch: an upsertWithDelete against the committed state
    LakeTable.commitFused(Seq(
      a.pendingUpsertWithDelete(df((1L, "A", "x"), (2L, "b", "y")),
        lit(false)),
      LakeTable(spark, root, "z", Seq("id")).pendingCreate(df((7L, "z", "q")))))
    assert(rows(a) == Set((1L, "A", "x"), (2L, "b", "y")))
    assert(a.version == 2)
  }

  // ---- one commit path: hint equivalence and multi-level feed tables ----

  /** Inodes of every parquet file under each leaf partition dir of a
    * version, keyed by the leaf's path relative to the version dir. */
  private def leafInodes(dir: java.nio.file.Path): Map[String, Set[Any]] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(dir))(_.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toVector)
      .groupBy(f => dir.relativize(f.getParent).toString)
      .map { case (leaf, fs) => leaf -> fs.map(f => Files.getAttribute(f, "unix:ino"): Any).toSet }
  }

  /** The leaves of `cur` that are hard links of the same leaf in `donor`. */
  private def linkedLeaves(donor: java.nio.file.Path,
      cur: java.nio.file.Path): Set[String] = {
    val before = leafInodes(donor)
    leafInodes(cur).collect {
      case (leaf, ino) if before.get(leaf).contains(ino) => leaf }.toSet
  }

  test("upsertWithDelete matchedPartsHint: a correct hint on a partitioned " +
      "change-feed table gives the same rows, hard-linked partitions and " +
      "changesSince as the self-derived merge") {
    val root = freshRoot
    def mk(name: String) = LakeTable(spark, root, name, Seq("id"),
      partitionCols = Seq("p"), changeFeed = true)
    val hinted = mk("h"); val plain = mk("d")
    val init = df((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"),
      (4L, "d", "w"), (5L, "e", "v"))
    hinted.create(init); plain.create(init)
    val donors = Seq(hinted, plain).map(_.currentDir)
    val v0 = hinted.version
    // id 2 MOVES y → u (its old partition y is matched-only), id 3 is
    // deleted in place, id 6 is new; w and v are untouched
    val batch = df((2L, "B", "u"), (3L, "dead", "z"), (6L, "f", "x"))
    val del = col("v") === "dead"
    // the hint: the target partitions holding the batch's keys (2 in y,
    // 3 in z; 6 matches nothing)
    hinted.upsertWithDelete(batch, del,
      matchedPartsHint = Some(Seq("y", "z").toDF("p")))
    plain.upsertWithDelete(batch, del)
    assert(rows(hinted) == rows(plain))
    assert(rows(hinted) == Set((1L, "a", "x"), (2L, "B", "u"), (4L, "d", "w"),
      (5L, "e", "v"), (6L, "f", "x")))
    val linked = Seq(hinted, plain).zip(donors).map { case (t, d) =>
      linkedLeaves(d, t.currentDir) }
    assert(linked.head == linked(1))
    assert(linked.head == Set("p=w", "p=v"), s"${linked.head}")
    assert(changeSet(hinted, v0) == changeSet(plain, v0))
    assert(changeSet(hinted, v0) == Set((2L, "update_preimage", "b"),
      (2L, "update_postimage", "B"), (3L, "delete", "c"), (6L, "insert", "f")))
  }

  test("two-level-partitioned change-feed table: upsert (a key moving to " +
      "a new leaf), delete and update keep the y=/m= layout, hard-link " +
      "untouched leaves, and changesSince equals the snapshot diff") {
    import java.nio.file.Paths
    val root = freshRoot
    def mk(name: String, cdf: Boolean) = LakeTable(spark, root, name,
      Seq("id"), partitionCols = Seq("y", "m"), changeFeed = cdf)
    // the change-feed table and a feed-less twin whose changesSince is
    // the snapshot diff
    val t = mk("t", cdf = true); val twin = mk("s", cdf = false)
    def frame(rs: (Long, String, String, String)*) = rs.toDF("id", "v", "y", "m")
    def all(x: LakeTable) = x.read.select("id", "v", "y", "m")
      .as[(Long, String, String, String)].collect().toSet
    def events(x: LakeTable, since: Int) = x.changesSince(since)
      .select("id", "_change_type", "v", "y", "m")
      .as[(Long, String, String, String, String)].collect().toSet
    val init = frame((1L, "a", "y23", "jan"), (2L, "b", "y23", "feb"),
      (3L, "c", "y24", "jan"), (4L, "d", "y24", "feb"))
    t.create(init); twin.create(init)
    /** Apply `op` to both tables; check rows, layout, links and the feed. */
    def step(op: LakeTable => Unit, linked: Set[String]): Unit = {
      val (donor, since) = (t.currentDir, t.version)
      op(t); op(twin)
      assert(all(t) == all(twin))
      val leaves = leafInodes(t.currentDir).keySet
      assert(leaves.forall(_.matches("y=[^/]+/m=[^/]+")), s"$leaves")
      assert(noDiscriminatorDirs(t.currentDir))
      assert(linkedLeaves(donor, t.currentDir) == linked)
      // the feed was recorded (flat) for this version, and answers
      // changesSince identically to the twin's snapshot diff
      val feedDir = Paths.get(root, "t", "changes", s"v${t.version}")
      assert(Files.isDirectory(feedDir))
      assert(scala.util.Using.resource(Files.list(feedDir))(
        _.noneMatch(Files.isDirectory(_))), "feed dir must be flat")
      assert(events(t, since) == events(twin, twin.version - 1))
      assert(events(t, since).nonEmpty)
    }
    // id 1 updated in place, id 2 MOVES feb → a new leaf y25/mar, id 5 new
    step(_.upsert(frame((1L, "A", "y23", "jan"), (2L, "b", "y25", "mar"),
      (5L, "e", "y24", "jan"))), linked = Set("y=y24/m=feb"))
    assert(Files.isDirectory(t.currentDir.resolve("y=y25/m=mar")))
    assert(!Files.exists(t.currentDir.resolve("y=y23/m=feb")))
    step(_.delete($"id" === 4L),
      linked = Set("y=y23/m=jan", "y=y24/m=jan", "y=y25/m=mar"))
    step(_.update($"id" === 3L, Map("v" -> lit("C"))),
      linked = Set("y=y23/m=jan", "y=y25/m=mar"))
    assert(all(t) == Set((1L, "A", "y23", "jan"), (2L, "b", "y25", "mar"),
      (3L, "C", "y24", "jan"), (5L, "e", "y24", "jan")))
  }
}

package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.table.{AnnIndex, LakeTable}

/** Contract of the persistent CDC-maintained IVF index: with the frozen
  * quantizer, maintained assignments equal a from-scratch re-assignment
  * of the current corpus, and full-probe search equals brute-force
  * top-k — through insert, direction-changing update, and delete waves. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def res(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.select(col("query_id").cast("long"), col("rank").cast("int"),
        col("neighbor_id").cast("long"), col("cos"))
      .as[(Long, Int, Long, Double)].collect().toSeq
      .sortBy(t => (t._1, t._2))

  test("maintained assignments == frozen-quantizer recompute; full probe == brute force") {
    val root = s"$tablesRoot/annidx_spec"
    val docs = LakeTable(spark, root, "ann_docs", Seq("vec_id"),
      changeFeed = true)
    docs.drop()
    val ai = AnnIndex(spark, root, "ann", nCells = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")

    docs.create(e.filter(col("vec_id") % 3 =!= 0))
    ai.build(docs.read, "vec_id", "embedding")
    var synced = docs.version

    docs.upsert(e.filter(col("vec_id") % 3 === 0))
    docs.upsert(e.filter(col("vec_id") % 11 === 4)
      .withColumn("embedding",
        transform(col("embedding"), x => -x))) // direction flip: cell moves
    docs.delete(col("vec_id") % 7 === 3)
    synced = ai.maintain(docs, "vec_id", "embedding", synced)

    // assignments must equal re-assigning the final corpus under the
    // SAME frozen centroids
    val cents = ai.centroids.read.orderBy("cell").select("v")
      .collect().map(_.getSeq[Double](0))
    val expected = docs.read
      .select(col("vec_id").cast("long").as("id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    val got = ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)

    // full-probe search == brute force over the final corpus
    val queries = e.filter(col("vec_id") < 16)
    val viaIndex = res(ai.search(queries, "vec_id", "embedding",
      k = 5, nProbe = 8))
    val brute = res(Similarity.bruteForceTopK(queries, docs.read,
      "vec_id", "embedding", k = 5))
    assert(viaIndex == brute)
    assert(viaIndex.nonEmpty)

    // replay of the same span converges
    ai.maintain(docs, "vec_id", "embedding", synced - 3 max 1)
    val got2 = ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    assert(got2 == expected)
  }

  test("search reads ONLY the probed cells' partitions of the inverted file") {
    val root = s"$tablesRoot/annidx_prune"
    val docs = LakeTable(spark, root, "annp_docs", Seq("vec_id"),
      changeFeed = true)
    docs.drop()
    val ai = AnnIndex(spark, root, "annp", nCells = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    docs.create(e)
    ai.build(docs.read, "vec_id", "embedding")
    // the inverted file is laid out as one Hive partition per cell
    val partDirs = scala.util.Using.resource(
      java.nio.file.Files.list(ai.assign.currentDir))(
      _.toArray.map(_.toString).count(_.contains("cell=")))
    assert(partDirs > 2, s"fixture must spread over cells, got $partDirs")

    def assignScans(df: DataFrame) = executedScansOf(df, "annp_assign")
    // nProbe = 1, one query → exactly ONE cell partition may be read
    val one = ai.search(e.filter(col("vec_id") === 2), "vec_id", "embedding",
      k = 3, nProbe = 1)
    val scans = assignScans(one)
    assert(scans.nonEmpty, "search must scan the assign table")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"probed-cell filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.contains(1L),
        s"nProbe=1 single-query search must read 1 of $partDirs cell " +
          s"partitions, read $nParts")
    }
    // full probe over several queries touches MORE partitions — the
    // pruning tracks nProbe, not a constant
    val full = ai.search(e.filter(col("vec_id") < 16), "vec_id", "embedding",
      k = 3, nProbe = 8)
    val fullParts = assignScans(full)
      .flatMap(_.metrics.get("numPartitions").map(_.value)).sum
    assert(fullParts > 1L, s"full probe must open every populated cell")
  }

  test("docParts corpus layout: maintained state unchanged, the vector " +
      "fetch is a partition-PRUNED read, and layout drift fails loudly") {
    import graft.table.DocBuckets
    val root = s"$tablesRoot/annidx_docparts"
    val docs = LakeTable(spark, root, "annd_docs", Seq("vec_id"),
      partitionCols = Seq(DocBuckets.ColName), changeFeed = true,
      partitionsFromKeys = true)
    docs.drop()
    def wb(df: DataFrame) = DocBuckets.withBucket(df, "vec_id", 8)
    val ai = AnnIndex(spark, root, "annd", nCells = 8, docParts = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    docs.create(wb(e.filter(col("vec_id") % 3 =!= 0)))
    ai.build(docs.read, "vec_id", "embedding")
    val synced = docs.version
    docs.upsert(wb(e.filter(col("vec_id") % 3 === 0)))
    docs.upsert(wb(e.filter(col("vec_id") % 11 === 4)
      .withColumn("embedding", transform(col("embedding"), x => -x))))
    docs.delete(col("vec_id") % 7 === 3)
    ai.maintain(docs, "vec_id", "embedding", synced)

    // assignments equal the frozen-quantizer recompute — the bucketed
    // corpus layout must never change answers
    val cents = ai.centroids.read.orderBy("cell").select("v")
      .collect().map(_.getSeq[Double](0))
    val expected = docs.read
      .select(col("vec_id").cast("long").as("id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    val got = ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)

    // plan pin: fetching 2 ids opens <= 2 of the 8 docs partitions
    val ids = Seq(1L, 4L).toDF("id")
    val slice = ai.fetchVecs(docs.read, "vec_id", ids)
    val scans = executedScansOf(slice, "annd_docs")
    assert(scans.nonEmpty, "fetch must scan the vector table")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"touched-__db filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.exists(n => n >= 1L && n <= 2L),
        s"two ids fetch <= 2 of 8 docs partitions, read $nParts")
    }

    // mismatched docParts fails loudly before reading anything
    val wrong = AnnIndex(spark, root, "annd", nCells = 8, docParts = 4)
    val ex = intercept[IllegalArgumentException] {
      wrong.applyChanges(Seq(1L).toDF("vec_id"), docs.read,
        "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("docParts=4"))
  }

  test("idParts sidecar: maintained state unchanged, sidecar == (id, " +
      "cell), id-pruned hint read, crash-state replay, layout guards") {
    val root = s"$tablesRoot/annidx_idparts"
    val docs = LakeTable(spark, root, "anni_docs", Seq("vec_id"),
      changeFeed = true)
    docs.drop()
    val ai = AnnIndex(spark, root, "anni", nCells = 8, idParts = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    docs.create(e.filter(col("vec_id") % 3 =!= 0))
    ai.build(docs.read, "vec_id", "embedding")
    val synced = docs.version
    val idsPre = ai.ids.get.version
    docs.upsert(e.filter(col("vec_id") % 3 === 0))
    docs.upsert(e.filter(col("vec_id") % 11 === 4)
      .withColumn("embedding", transform(col("embedding"), x => -x)))
    docs.delete(col("vec_id") % 7 === 3)
    ai.maintain(docs, "vec_id", "embedding", synced)

    val cents = ai.centroids.read.orderBy("cell").select("v")
      .collect().map(_.getSeq[Double](0))
    def expected = docs.read
      .select(col("vec_id").cast("long").as("id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    def got = ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    def side = ai.ids.get.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    val exp = expected
    assert(got == exp && side == exp)
    assert(exp.nonEmpty)

    // plan pin: the hint read for 2 ids opens <= 2 of the 8 __ib
    // partitions — the O(batch) authority that replaced the assign
    // merge's O(corpus) matched-key scan
    val slice = ai.idSlice(ai.ids.get, Seq(1L, 4L).toDF("id"))
    val scans = executedScansOf(slice, "anni_ids")
    assert(scans.nonEmpty, "hint must scan the ids sidecar")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"__ib filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.exists(n => n >= 1L && n <= 2L),
        s"two ids open <= 2 of 8 sidecar partitions, read $nParts")
    }

    // reachable crash state (assign commits FIRST): assign new, sidecar
    // still pre-span — the re-run's hint is stale but every stale-cell
    // row was already retired and new rows ride clause (a); replay must
    // converge both tables
    val sideOld = ai.ids.get.readVersion(idsPre).localCheckpoint(true)
    ai.ids.get.create(sideOld)
    ai.maintain(docs, "vec_id", "embedding", synced)
    assert(got == exp && side == exp)

    // layout drift fails loudly before any read
    val wrong = AnnIndex(spark, root, "anni", nCells = 8, idParts = 4)
    val ex = intercept[IllegalArgumentException] {
      wrong.applyChanges(Seq(1L).toDF("vec_id"), docs.read,
        "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("idParts=4"))
    val zero = AnnIndex(spark, root, "anni", nCells = 8)
    val ex2 = intercept[IllegalArgumentException] {
      zero.applyChanges(Seq(1L).toDF("vec_id"), docs.read,
        "vec_id", "embedding")
    }
    assert(ex2.getMessage.contains("idParts=0"))
  }

  test("crash between the assign and sidecar commits with the corpus " +
      "ADVANCING before re-delivery: span tokens detect it, the " +
      "recovery batch drops the hint, and no stale assignment survives") {
    val root = s"$tablesRoot/annidx_crashadv"
    val docs = LakeTable(spark, root, "annv_docs", Seq("vec_id"),
      changeFeed = true)
    docs.drop()
    // 32 cells + a ONE-VECTOR span: the dangerous state needs the
    // crashed assign row's cell to be named by NEITHER the stale
    // sidecar (the hint) NOR the newest recompute — with few cells or
    // many touched ids the union covers every cell and masks the bug
    // (self-checked below)
    val ai = AnnIndex(spark, root, "annv", nCells = 32, idParts = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    docs.create(e)
    ai.build(docs.read, "vec_id", "embedding")
    val synced = docs.version
    val idsPre = ai.ids.get.version
    // span S (will "crash"): one vector flips direction → its cell moves
    docs.upsert(e.filter(col("vec_id") === 1)
      .withColumn("embedding", transform(col("embedding"), x => -x)))
    ai.maintain(docs, "vec_id", "embedding", synced)
    // reachable crash state: assign committed with span S's token, the
    // ids sidecar still pre-span — the detection predicate
    val sideOld = ai.ids.get.readVersion(idsPre).localCheckpoint(true)
    ai.ids.get.create(sideOld)
    assert(ai.assign.meta.get(ai.SpanKey) != ai.ids.get.meta.get(ai.SpanKey),
      "the crash state must be detectable from the span tokens")
    // the corpus ADVANCES before re-delivery: the same vector moves to
    // a THIRD direction
    docs.upsert(e.filter(col("vec_id") === 1)
      .withColumn("embedding", reverse(col("embedding"))))
    // fixture self-check: the crashed cell is outside hint ∪ newest —
    // the exact row a trusted hint would strand as a duplicate key
    val cents = ai.centroids.read.orderBy("cell").select("v")
      .collect().map(_.getSeq[Double](0))
    val crashedCell = ai.assign.read.filter(col("id") === 1L)
      .select("cell").head().getInt(0)
    val hintCells = ai.ids.get.read.filter(col("id") === 1L)
      .select("cell").collect().map(_.getInt(0)).toSet
    val newestCell = docs.read.filter(col("vec_id") === 1)
      .select(graft.functions.VectorFunctions.normalize(col("embedding"))
        .as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select("cell").head().getInt(0)
    assert(!hintCells.contains(crashedCell) && crashedCell != newestCell,
      "fixture must exercise the stranding window (tune the vector " +
        "mutations if the three directions happen to share cells)")
    // re-delivery of the whole outstanding span: the recovery batch
    // must run UNHINTED and retire the crashed-cell row
    ai.maintain(docs, "vec_id", "embedding", synced)
    // no duplicate merge key: exactly one assign row for the vector,
    // at the newest cell; sidecar agrees
    val rows = ai.assign.read.filter(col("id") === 1L)
      .select("cell").collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(newestCell),
      s"expected exactly one assignment at cell $newestCell, got $rows")
    val expected = docs.read
      .select(col("vec_id").cast("long").as("id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    assert(ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet == expected)
    assert(ai.ids.get.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet == expected)
  }

  test("sizedCells / autoSized: standard IVF sizing, derivation recorded") {
    assert(AnnIndex.sizedCells(4L) == 2)
    assert(AnnIndex.sizedCells(32000L) == 178)
    assert(AnnIndex.sizedCells(100000000L) == 4096) // clamp engages
    val root = s"$tablesRoot/annidx_auto"
    val docs = LakeTable(spark, root, "anna_docs", Seq("vec_id"),
      changeFeed = true)
    docs.drop()
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    docs.create(e)
    val rows = docs.read.count()
    val ai = AnnIndex.autoSized(spark, root, "anna", docs.read,
      "vec_id", "embedding")
    assert(ai.centroids.meta.get("ann.sizing").exists(m =>
      m.contains(s"rows=$rows") &&
        m.contains(s"nCells=${AnnIndex.sizedCells(rows)}")))
    // full-probe search over the auto-sized index == brute force
    val queries = e.filter(col("vec_id") < 8)
    val viaIndex = res(ai.search(queries, "vec_id", "embedding",
      k = 3, nProbe = AnnIndex.sizedCells(rows)))
    val brute = res(Similarity.bruteForceTopK(queries, docs.read,
      "vec_id", "embedding", k = 3))
    assert(viaIndex == brute)
  }

  test("streaming drain == batch maintenance across per-file micro-batching; " +
      "replay is a no-op") {
    val root = s"$tablesRoot/annidx_stream"
    val docs = LakeTable(spark, root, "anns_docs", Seq("vec_id"),
      changeFeed = true)
    docs.drop()
    val ai = AnnIndex(spark, root, "anns", nCells = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    docs.create(e.filter(col("vec_id") % 3 =!= 0))
    ai.build(docs.read, "vec_id", "embedding")
    docs.upsert(e.filter(col("vec_id") % 3 === 0))
    docs.upsert(e.filter(col("vec_id") % 11 === 4)
      .withColumn("embedding", transform(col("embedding"), x => -x)))
    docs.delete(col("vec_id") % 7 === 3)
    val feed = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(
        docs.read.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_change_type", org.apache.spark.sql.types.StringType)))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/anns_docs/changes/v*")
    graft.streaming.Streams.maintainAnnIndexFromChangeFeed(
      feed, docs, ai, "vec_id", "embedding")
    val cents = ai.centroids.read.orderBy("cell").select("v")
      .collect().map(_.getSeq[Double](0))
    val expected = docs.read
      .select(col("vec_id").cast("long").as("id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    val got = ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    assert(got == expected)
    // replay the whole feed: the batch marker makes it a no-op
    graft.streaming.Streams.maintainAnnIndexFromChangeFeed(
      docs.readChangeFeedStream, docs, ai, "vec_id", "embedding")
    val got2 = ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet
    assert(got2 == expected)
  }

  test("streaming drain under the SERVING layouts (idParts + docParts + " +
      "bucketed corpus): marker rides the ids sidecar, a mid-drain " +
      "crash between the commits loses the marker WITH the sidecar, " +
      "and the replayed drain re-applies and converges") {
    import graft.table.DocBuckets
    val root = s"$tablesRoot/annidx_streamserv"
    val b = DocBuckets.bucketed(spark, root, "annss_docs", "vec_id", 8)
    b.drop()
    val ai = AnnIndex(spark, root, "annss", nCells = 8, docParts = 8,
      idParts = 8)
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    b.create(e.filter(col("vec_id") % 3 =!= 0))
    ai.build(b.read, "vec_id", "embedding")
    b.upsert(e.filter(col("vec_id") % 3 === 0))
    b.upsert(e.filter(col("vec_id") % 11 === 4)
      .withColumn("embedding", transform(col("embedding"), x => -x)))
    b.delete(col("vec_id") % 7 === 3)
    val idsPre = ai.ids.get.version
    // first drain: the whole feed through per-file micro-batches —
    // every batch commits assign THEN ids (marker LAST)
    graft.streaming.Streams.maintainAnnIndexFromChangeFeed(
      b.readChangeFeedStream, b.table, ai, "vec_id", "embedding")
    assert(ai.markerTable.meta.keys.exists(_.startsWith("annidx_last_batch")),
      "the exactly-once marker must ride the ids sidecar (markerTable)")
    // mid-drain crash between the LAST batch's assign and ids commits:
    // the sidecar — and the marker that rides it — roll back together,
    // so the replay CANNOT skip the batch (marker-on-last-commit is
    // exactly what makes this state safe; a marker on assign would
    // skip and leave the sidecar stale forever)
    val sideOld = ai.ids.get.readVersion(idsPre).localCheckpoint(true)
    ai.ids.get.create(sideOld)
    assert(ai.markerTable.meta.keys.forall(!_.startsWith("annidx_last_batch")),
      "the crash state must have lost the marker with the sidecar commit")
    // replayed drain: re-applies (at-least-once → exactly-once via the
    // snapshot-authority convergence rule + span-token recovery)
    graft.streaming.Streams.maintainAnnIndexFromChangeFeed(
      b.readChangeFeedStream, b.table, ai, "vec_id", "embedding")
    val cents = ai.centroids.read.orderBy("cell").select("v")
      .collect().map(_.getSeq[Double](0))
    val expected = b.read
      .select(col("vec_id").cast("long").as("id"),
        graft.functions.VectorFunctions.normalize(col("embedding")).as("v"))
      .withColumn("cell", Similarity.cellOf(cents, col("v")))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().toSet
    assert(ai.assign.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet == expected)
    assert(ai.ids.get.read.select(col("id"), col("cell"))
      .as[(Long, Int)].collect().toSet == expected)
    assert(expected.nonEmpty)
    // full-probe search over the drained index == brute force
    val queries = e.filter(col("vec_id") < 16)
    val viaIndex = res(ai.search(queries, "vec_id", "embedding",
      k = 5, nProbe = 8))
    val brute = res(Similarity.bruteForceTopK(queries, b.read,
      "vec_id", "embedding", k = 5))
    assert(viaIndex == brute)
  }
}

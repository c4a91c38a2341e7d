package graft

import org.apache.spark.sql.functions._

import graft.table.DocBuckets

/** Contract of the [[graft.table.DocBuckets.Bucketed]] corpus handle:
  * the layout (stamping, partition spec, modulus freeze) is owned by
  * the handle so call sites can no longer drift apart, and the modulus
  * derives from corpus rows ([[DocBuckets.sizedParts]]). The pruned
  * fetch itself (partition filters + in-plan layout assert) is pinned
  * by DedupIndexSpec/AnnIndexSpec's docParts tests. */
class DocBucketsSpec extends SparkSpec {
  import spark.implicits._

  test("sizedParts: rows-per-partition band, clamps at the extremes") {
    // clamps
    assert(DocBuckets.sizedParts(100L) == 8)
    assert(DocBuckets.sizedParts(1000000000L) == 1024)
    // inside the clamps the realized rows/partition stays in the
    // documented [target/2, target*2] band
    val rows = 320000L
    val parts = DocBuckets.sizedParts(rows)
    val perPart = rows.toDouble / parts
    assert(perPart >= DocBuckets.TargetRowsPerPart / 2 &&
      perPart <= DocBuckets.TargetRowsPerPart * 2,
      s"$perPart rows per partition — outside the band")
  }

  test("Bucketed handle: every write stamps __db, the modulus is frozen " +
      "at create, and a mismatched handle fails loudly") {
    val root = s"$tablesRoot/docbuckets_spec"
    val b = DocBuckets.bucketed(spark, root, "dbk_docs", "doc_id", 8)
    b.drop()
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    b.create(all.filter(col("doc_id") % 2 === 0))
    b.upsert(all.filter(col("doc_id") % 2 === 1))
    // every row carries the stamp the layout contract demands
    val bad = b.read.filter(
      col(DocBuckets.ColName) =!= DocBuckets.bucket(col("doc_id"), 8))
    assert(bad.count() == 0)
    assert(b.read.count() == all.count())
    // modulus frozen into committed meta at create
    assert(b.table.meta.get(DocBuckets.PartsKey).contains("8"))
    // a handle with a different modulus over the stored table refuses
    // at first DATA access (construction alone stays legal so the
    // build-handle-then-recreate pattern works)
    val wrong = DocBuckets.bucketed(spark, root, "dbk_docs", "doc_id", 4)
    val ex = intercept[IllegalArgumentException] { wrong.read }
    assert(ex.getMessage.contains("parts=4"))
    val ex2 = intercept[IllegalArgumentException] {
      DocBuckets.bucketed(spark, root, "dbk_docs", "doc_id", 4)
        .upsert(all.limit(1))
    }
    assert(ex2.getMessage.contains("parts=4"))
    // the pruned fetch opens <= 2 of the 8 partitions for 2 ids
    val slice = DocBuckets.pruned(b.read, col("doc_id"), 8,
      Seq(1L, 4L).toDF("id"), "id")
    val scans = executedScansOf(slice, "dbk_docs")
    assert(scans.nonEmpty)
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"bucket filter must reach the scan as a partition filter: $f")
      val nParts = f.metrics.get("numPartitions").map(_.value)
      assert(nParts.exists(n => n >= 1L && n <= 2L),
        s"two ids open <= 2 of 8 partitions, read $nParts")
    }
  }

  test("sized: modulus derived from the full-corpus count, previous " +
      "table dropped, sizing derivation in the create commit's meta") {
    val root = s"$tablesRoot/docbuckets_auto"
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    // leave a previous-run table with a DIFFERENT modulus and a recorded
    // change feed: sized must drop it (feed replay and layout drift)
    val prev = DocBuckets.bucketed(spark, root, "dbka_docs", "doc_id", 16)
    prev.drop()
    prev.create(all.limit(4))
    prev.upsert(all.limit(8))
    val rows = all.count()
    val b = DocBuckets.sized(spark, root, "dbka_docs", "doc_id", rows,
      all.filter(col("doc_id") % 2 === 0))
    assert(b.parts == DocBuckets.sizedParts(rows))
    assert(b.table.meta.get("docbuckets.sizing").exists(m =>
      m.contains(s"parts=${b.parts}")))
    assert(b.table.meta.get(DocBuckets.PartsKey)
      .contains(b.parts.toString))
    // previous feed gone: the new table's history starts at this create
    assert(b.version == 1)
    b.upsert(all.filter(col("doc_id") % 2 === 1))
    assert(b.read.count() == all.count())
  }

  test("drop resets the cached layout check: a handle that dropped the " +
      "table re-validates against whatever recreated it") {
    val root = s"$tablesRoot/docbuckets_spec"
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val a = DocBuckets.bucketed(spark, root, "dbkd_docs", "doc_id", 8)
    a.drop()
    a.create(all.limit(16))
    assert(a.read.count() == 16) // caches the successful check
    a.drop()
    // ANOTHER handle recreates the table under a different modulus;
    // handle a's cached success is now about a table that no longer
    // exists — it must re-check, not stamp wrongly-bucketed rows
    val other = DocBuckets.bucketed(spark, root, "dbkd_docs", "doc_id", 4)
    other.create(all.limit(16))
    val ex = intercept[IllegalArgumentException] { a.upsert(all.limit(4)) }
    assert(ex.getMessage.contains("parts=8"))
  }

  test("first-write-via-merge freezes the modulus: an upsert on a " +
      "not-yet-created table commits the layout key with version 1") {
    val root = s"$tablesRoot/docbuckets_spec"
    val all = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val b = DocBuckets.bucketed(spark, root, "dbkm_docs", "doc_id", 8)
    b.drop()
    // no create(): the merge's implicit-create path must still freeze
    // the key, or a later mismatched handle would pass the guard's
    // absent-key tolerance and silently mis-prune
    b.upsert(all.limit(16))
    assert(b.table.meta.get(DocBuckets.PartsKey).contains("8"))
    val wrong = DocBuckets.bucketed(spark, root, "dbkm_docs", "doc_id", 4)
    val ex = intercept[IllegalArgumentException] { wrong.read }
    assert(ex.getMessage.contains("parts=4"))
    // same guarantee for the delete-carrying merge
    b.drop()
    b.upsertWithDelete(all.limit(16), lit(false))
    assert(b.table.meta.get(DocBuckets.PartsKey).contains("8"))
  }
}

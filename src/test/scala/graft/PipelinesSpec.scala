package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end smoke + invariants over real testdata at sf0.001. */
class PipelinesSpec extends SparkSpec {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and returns a schema at sf0.001; " +
      "no oracle-compared output carries a raw DECIMAL column (the " +
      "type the driver's hasher normalizes differently between a " +
      "Spark parquet and a DuckDB result)") {
    import org.apache.spark.sql.types.DecimalType
    // round-9's only red row was q_ivm_moments: values bit-exact, hash
    // mismatched, solely because its output schema held the suite's one
    // raw DecimalType output column. Compared outputs must emit exact
    // decimal state as STRING (both engines render plain scale-N forms
    // identically) or as a bounded-magnitude DOUBLE. TimestampType is
    // deliberately NOT in this guard: 16 compared queries emit it and
    // have hashed green since round 2 (both engines normalize UTC
    // timestamps identically under the session timezone).
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val df = withClue(s"query $name: ")(fn(spark, sf))
      assert(df.columns.nonEmpty, s"$name has no columns")
      if (!SparkEntry.oracleSql.contains(name)) Nil
      else df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"oracle-compared outputs with hash-unstable column types:\n  " +
        offenders.mkString("\n  "))
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query has oracle SQL: the query and oracle key sets are equal") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"query without oracle SQL: $noOracle")
  }

  test("the lakehouse family's names are disjoint from SparkEntry's inline " +
      "names (a name in both would be silently overridden by ++)") {
    // every pair of families in SparkEntry's one list
    val sets = SparkEntry.families.map(f =>
      (f.getClass.getSimpleName, f.queries.keySet, f.oracleSql.keySet))
    for (Seq((a, qa, oa), (b, qb, ob)) <- sets.combinations(2)) {
      val q = qa intersect qb
      val o = oa intersect ob
      assert(q.isEmpty, s"queries defined in both $a and $b: $q")
      assert(o.isEmpty, s"oracle SQL defined in both $a and $b: $o")
    }
  }

  test("pipelines preserve key uniqueness after dedup") {
    import org.apache.spark.sql.functions._
    val o = graft.pipelines.Pipelines.orders(spark, sf)
    assert(o.groupBy("o_orderkey").count().filter(col("count") > 1).isEmpty)
    val i = graft.pipelines.Pipelines.orderItems(spark, sf)
    assert(i.groupBy("l_orderkey", "l_linenumber").count().filter(col("count") > 1).isEmpty)
  }

  test("curateIncrement admits only genuinely new, clean documents") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = Tables.load(spark, sf, "documents")
    val corpus = d.filter($"doc_id" < 250).select("doc_id", "text")
    val out = graft.pipelines.Pipelines.curateIncrement(
      d.filter($"doc_id" >= 250), corpus, "doc_id", "text", "lang",
      Seq("en"), minQuality = 0.6, evalPatterns = Seq("merge batch"))
    val rows = out.as[(Long, String, Double, String)].collect()
    assert(rows.nonEmpty && rows.forall(_._1 >= 250)) // only new docs
    assert(rows.forall(r => r._2 == "en" && r._3 >= 0.6))
    // no admitted doc is an exact dup of the corpus (fingerprint check)
    val admText = out.join(d, "doc_id")
      .select(graft.functions.TextFunctions
        .fingerprintNormalized($"text").as("fp"))
    val corpFp = corpus.select(graft.functions.TextFunctions
      .fingerprintNormalized($"text").as("fp"))
    assert(admText.join(corpFp, Seq("fp"), "left_semi").isEmpty)
  }

  test("curateCorpus: every stage's invariant holds on the output") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val pats = Seq("merge batch", "fast table")
    val out = graft.pipelines.Pipelines.curateCorpus(docs,
      "doc_id", "text", "lang", Seq("en"), minQuality = 0.6,
      evalPatterns = pats).cache()
    val rows = out.as[(Long, String, Double, Long, String)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 == "en")) // language filter
    assert(rows.forall(_._3 >= 0.6)) // quality floor
    // one survivor per family, and the family label is a member's id
    assert(rows.map(_._4).distinct.length == rows.length)
    // decontamination: no surviving doc contains an eval pattern
    val dirty = out.join(docs, "doc_id")
      .filter(pats.map(p => col("text").contains(p)).reduce(_ || _))
    assert(dirty.isEmpty)
    // split is a pure function of the family id
    assert(rows.forall { case (_, _, _, fam, split) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(fam.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2)
      (hex < "33") == (split == "test")
    })
    out.unpersist()
  }
}

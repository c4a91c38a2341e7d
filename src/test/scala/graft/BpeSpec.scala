package graft

import graft.functions.Bpe

/** BPE train/encode pinned against hand-computed merges (Sennrich-style
  * word-level BPE, count-desc then lexicographic tie-break). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("train learns merges in frequency order with lexicographic ties") {
    // pair counts round 1: (a,b)=5, (b,a)=2, (b,c)=1 -> merge (a,b)
    // round 2: (ab,ab)=2, (ab,c)=1 -> merge (ab,ab)
    // round 3: only (ab,c) -> merge (ab,c)
    val words = Seq("abab", "abab", "abc")
    assert(Bpe.train(words, 3) ==
      Seq(("a", "b"), ("ab", "ab"), ("ab", "c")))
    // asking for more merges than exist stops early, deterministically
    assert(Bpe.train(words, 100).take(3) ==
      Seq(("a", "b"), ("ab", "ab"), ("ab", "c")))
  }

  test("train tie-break is input-order independent") {
    val a = Seq("xy", "yx")
    // (x,y)=1 and (y,x)=1: lexicographic tie-break picks (x,y) first
    assert(Bpe.train(a, 1) == Bpe.train(a.reverse, 1))
    assert(Bpe.train(a, 1) == Seq(("x", "y")))
  }

  test("encodeWord applies merges greedily by rank") {
    val ranks = Seq(("a", "b"), ("ab", "ab"), ("ab", "c")).zipWithIndex.toMap
    assert(Bpe.encodeWord("abab", ranks) == Seq("abab"))
    assert(Bpe.encodeWord("ababab", ranks) == Seq("abab", "ab"))
    assert(Bpe.encodeWord("abc", ranks) == Seq("abc"))
    assert(Bpe.encodeWord("zabz", ranks) == Seq("z", "ab", "z"))
    assert(Bpe.encodeWord("q", ranks) == Seq("q"))
  }

  test("BpeEncode expression tokenizes then encodes each word") {
    val merges = Seq(("a", "b"), ("ab", "ab"), ("ab", "c"))
    val out = Seq("Abab ABC zz").toDF("t")
      .select(Bpe.bpeEncode($"t", merges).as("toks"))
      .as[Seq[String]].head()
    assert(out == Seq("abab", "abc", "z", "z"))
  }

  test("merge table persists and reloads byte-identically") {
    val merges = Seq(("a", "b"), ("ab", "ab"), ("é", "ü"), ("x y", "z"))
    val path = java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tablesRoot), "bpe")
      .resolve("merges.txt").toString
    Bpe.saveMerges(path, merges)
    assert(Bpe.loadMerges(path) == merges)
    // symbols with tab/newline are rejected up front, not corrupted
    intercept[IllegalArgumentException](
      Bpe.saveMerges(path, Seq(("a\tb", "c"))))
  }

  test("corpus-trained encode: every subword round-trips to the document") {
    val d = Tables.load(spark, sf, "documents")
    val sample = d.filter($"doc_id" < 64).select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("\\s+")).filter(_.nonEmpty).toSeq
    val merges = Bpe.train(sample, numMerges = 100)
    // the small synthetic vocabulary fully merges before 100 rounds —
    // train stops early (every word one symbol), deterministically
    assert(merges.size > 50 && merges.size <= 100)
    val rows = d.limit(20)
      .select($"text", Bpe.bpeEncode($"text", merges).as("toks"))
      .as[(String, Seq[String])].collect()
    rows.foreach { case (text, toks) =>
      // concatenating subwords reconstructs the tokenized text exactly
      val words = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      assert(toks.mkString == words.mkString, "lossless round-trip")
      // learned merges actually compress: fewer subwords than characters
      assert(toks.size < words.map(_.length).sum)
    }
  }
}

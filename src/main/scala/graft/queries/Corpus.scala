package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Retrieval, Stats}
import graft.pipelines.Pipelines

/** The text-corpus query family: every query over `documents` whose
  * oracle replays the whitespace tokenizer, a character span n-gram, the
  * quality or language-ID scorer, or the decontamination patterns — text
  * statistics and fingerprints, near-dup pairs and families, duplicate /
  * contamination / repetition spans, n-gram rates, packing and chunking,
  * BM25 retrieval and its evaluations, the token language models, corpus
  * curation, the quality model's evaluations and language ID. Each replay
  * is spelled once below and shared by the oracles that use it. */
object Corpus extends QueryFamily {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Near-dup pairs at the setting the shingle-pairs oracle replays:
    * 3-word shingles, 64 MinHash functions in 16 LSH bands, every
    * candidate verified at exact Jaccard ≥ 0.7. */
  private object NearDup {
    val shingleN = 3; val k = 64; val bands = 16; val threshold = 0.7

    def pairs(d: DataFrame): DataFrame =
      Dedup.minhashLshPairs(d, "doc_id", "text", shingleN, k, bands, threshold)

    /** The pairs that touch `batch`, found without pairing `corpus` with itself. */
    def pairsAgainst(corpus: DataFrame, batch: DataFrame): DataFrame =
      Dedup.minhashLshPairsIncremental(corpus, batch, "doc_id", "text",
        shingleN, k, bands, threshold)
  }

  // ---- The replays the oracles share ----

  /** The whitespace tokenizer (`TextFunctions.tokens`) over `text`:
    * lower-cased, trimmed, split on whitespace runs, empties dropped. */
  private val tokensSql =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)"""

  /** `toks`: the documents' tokens as `t`, next to the columns `keys`. */
  private def toksCte(keys: String, from: String = "documents"): String =
    s"toks AS (SELECT $keys, $tokensSql AS t FROM $from)"

  /** The word n-grams of token list `t`, each joined by single spaces. */
  private def wordGramsSql(n: Int): String =
    s"[array_to_string(t[i:i+${n - 1}], ' ') for i in range(1, len(t) - ${n - 2})]"

  /** `name`: each `from` row's distinct 3-word shingles of `t` as `s` (the
    * whole token string when it has fewer than 3 tokens) — Dedup's
    * shingle set. */
  private def shingleCte(name: String = "sh", from: String = "toks"): String =
    s"""$name AS (
           SELECT doc_id,
                  CASE WHEN len(t) >= 3 THEN list_distinct(${wordGramsSql(3)})
                       ELSE [array_to_string(t, ' ')] END AS s
           FROM $from)"""

  /** The Jaccard ratio of the duplicate-free lists `a` and `b`. */
  private def jaccardSql(a: String, b: String): String =
    s"len(list_intersect($a, $b)) * 1.0 / (len($a) + len($b) - len(list_intersect($a, $b)))"

  /** `pairs`: every pair of `sh` documents (a_id < b_id) whose shingle
    * Jaccard is at least 0.7, with that Jaccard rounded to 6 places. */
  private val pairsCte: String = {
    val j = jaccardSql("a.s", "b.s")
    s"""pairs AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, ROUND($j, 6) AS jaccard
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE $j >= 0.7)"""
  }

  /** The near-dup definition every pairs operator must return exactly:
    * all pairs of the documents `from` selects at shingle Jaccard ≥ 0.7
    * (recall of the hashed candidate stages is 1 on this corpus). */
  private[queries] def shinglePairsSql(from: String): String =
    s"""WITH ${toksCte("doc_id", from)}, ${shingleCte()}, $pairsCte
         SELECT a_id, b_id, jaccard FROM pairs ORDER BY a_id, b_id"""

  /** `edges` + `reach`: the transitive closure of `pairs` (needs WITH
    * RECURSIVE). */
  private val reachCtes =
    """edges AS (
           SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)"""

  /** `reachCtes` + `fam`: each document's family, the least id it
    * reaches (itself when it has no pair). */
  private val familyCtes =
    s"""$reachCtes,
         fam AS (
           SELECT d.doc_id,
                  least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS family
           FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
           GROUP BY d.doc_id)"""

  /** `d` + `grams`: every character `n`-gram of each document as `g`, at
    * its 1-based position `pos` — the span operators' candidate grams. */
  private def spanGramsCtes(n: Int): String =
    s"""d AS (
           SELECT doc_id, text, greatest(length(text) - ${n - 1}, 0) AS np
           FROM documents),
         grams AS (
           SELECT doc_id, u.p AS pos, substr(text, u.p::int, $n) AS g
           FROM d, LATERAL unnest(range(1, np + 1)) AS u(p))"""

  /** `dup` + `anch`: the 30-grams in at least two documents, and every
    * position (with its gram) where one occurs. */
  private val dupAnchorCtes =
    """dup AS (
           SELECT g FROM grams GROUP BY g
           HAVING count(DISTINCT doc_id) >= 2),
         anch AS (
           SELECT doc_id, pos, g FROM grams WHERE g IN (SELECT g FROM dup))"""

  /** `isl` + `isl2` + `spans`: the anchor positions of `from` merged into
    * maximal spans. An anchor covers [pos, pos + n - 1]; covers that
    * overlap or touch fall into one island, one `spans` row each. */
  private def spansCtes(n: Int, from: String): String =
    s"""isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(max(pos + ${n - 1}) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       CAST(-1 AS BIGINT)) + 1
                       THEN 1 ELSE 0 END AS brk
           FROM $from),
         isl2 AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM isl),
         spans AS (
           SELECT doc_id, min(pos) AS span_start, max(pos) + ${n - 1} AS span_end,
                  max(pos) + ${n - 1} - min(pos) + 1 AS span_len
           FROM isl2 GROUP BY doc_id, island)"""

  /** The tail of an excise oracle: every document's text with its
    * `spans` cut out, stitched from the gap pieces (lag boundary + tail
    * piece); a document without spans keeps its text. */
  private val exciseSql =
    """segs AS (
           SELECT doc_id, span_start, span_end,
                  lag(span_end, 1, 0) OVER (
                    PARTITION BY doc_id ORDER BY span_start) AS prev_end
           FROM spans),
         pieces AS (
           SELECT s.doc_id, s.span_start AS ord,
                  substr(d2.text, (s.prev_end + 1)::int,
                         greatest(s.span_start - s.prev_end - 1, 0)::int) AS piece
           FROM segs s JOIN documents d2 USING (doc_id)
           UNION ALL
           SELECT t.doc_id, t.m + 1 AS ord,
                  substr(d2.text, (t.m + 1)::int) AS piece
           FROM (SELECT doc_id, max(span_end) AS m
                 FROM spans GROUP BY doc_id) t
           JOIN documents d2 USING (doc_id)),
         agged AS (
           SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
           FROM pieces GROUP BY doc_id)
         SELECT d3.doc_id, coalesce(a.clean_text, d3.text) AS clean_text
         FROM documents d3 LEFT JOIN agged a USING (doc_id)
         ORDER BY doc_id"""

  /** The query terms of the BM25 retrieval queries. */
  private val bm25Terms = Seq("spark", "hash", "window")

  private def sqlList(terms: Seq[String]): String = terms.map(t => s"'$t'").mkString(", ")

  /** `toks` + `base` + `stats`: the corpus side of a BM25 replay — each
    * document's length `dl`, and the corpus's n_docs and avgdl. */
  private val bm25CorpusCtes =
    s"""${toksCte("doc_id")},
         base AS (SELECT doc_id, len(t) AS dl FROM toks),
         stats AS (SELECT count(*) AS n_docs, AVG(dl) AS avgdl FROM base)"""

  /** One term's BM25 weight (k1 = 1.2, b = 0.75) from the term-frequency
    * row `tf`, the document-frequency row `df`, `base b` and `stats s`. */
  private def bm25TermSql(tf: String, df: String): String =
    s"""ln(1.0 + (s.n_docs - $df.df + 0.5) / ($df.df + 0.5)) * $tf.tf
                    / ($tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * b.dl / s.avgdl))"""

  /** `tf_<name>` + `df_<name>` + `name`: the top `k` documents (doc_id,
    * score rounded to 4 places; ties by doc_id) by BM25 for `terms`. */
  private def bm25TopCtes(name: String, terms: Seq[String], k: Int): String =
    s"""tf_$name AS (
           SELECT doc_id, term, count(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
           WHERE term IN (${sqlList(terms)})
           GROUP BY doc_id, term),
         df_$name AS (SELECT term, count(*) AS df FROM tf_$name GROUP BY term),
         $name AS (
           SELECT t.doc_id AS doc_id,
                  ROUND(SUM(${bm25TermSql("t", "d")}), 4) AS score
           FROM tf_$name t JOIN df_$name d USING (term)
                JOIN base b ON t.doc_id = b.doc_id
                CROSS JOIN stats s
           GROUP BY t.doc_id
           ORDER BY score DESC, doc_id LIMIT $k)"""

  /** The stopword list of `TextFunctions.stopwordRatio` and the quality scorers. */
  private val stopwordsSql =
    "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','this','by']"

  /** The count of BPE pre-tokens (`TextFunctions.bpeTokenCount`) of `text`. */
  private val bpeCountSql =
    """len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"""

  /** The heuristic quality score (`TextFunctions.qualityScore`), rounded to
    * 4 places, of tokens `t`, `text` and n_char = length(text). */
  private val heuristicQualitySql =
    s"""ROUND(
                    (CASE WHEN len(t) BETWEEN 10 AND 100000 THEN 1.0
                          WHEN len(t) BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END) * 0.3
                    + (1.0 - least((n_char - length(regexp_replace(text,
                        '[[:punct:]]', '', 'g'))) * 4.0 / greatest(n_char, 1), 1.0)) * 0.3
                    + least(len(list_filter(t, x -> list_contains($stopwordsSql, x)))
                        * 5.0 / greatest(len(t), 1), 1.0) * 0.2
                    + ((n_char - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                        * 1.0 / greatest(n_char, 1)) * 0.2, 4)"""

  /** A doc's split from its family id: test when md5(family) < '33'. */
  private val familySplitSql =
    "CASE WHEN substr(md5(CAST(family AS VARCHAR)), 1, 2) < '33' THEN 'test' ELSE 'train' END AS split"

  /** Pattern set for q_decontaminate — mirrored verbatim in its oracle
    * SQL. Includes a pattern that is a prefix of another ("fast table" /
    * "fast table value") so the automaton's suffix-output links are
    * exercised by the correctness gate. */
  private val decontaminationPatterns = Seq(
    "merge batch", "fast table", "fast table value", "value part",
    "spark order", "scan slow", "hash value", "row fast", "window data")

  /** `m` + `q`: the frozen logistic quality model
    * (`TextFunctions.qualityLogit`) over the `from` rows' tokens `t`, text
    * and n_char = length(text): `q` holds `keys` and the 6-place `score`. */
  private def logitScoreCtes(keys: String, from: String): String =
    s"""m AS (
           SELECT $keys, len(t) AS n_tok,
                  len(list_filter(t, x -> list_contains($stopwordsSql, x))) AS sw_hits,
                  n_char - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                    AS n_punct,
                  n_char - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                    AS n_alpha,
                  n_char - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS n_digit,
                  greatest(n_char, 1) AS len1
           FROM $from),
         q AS (
           SELECT $keys,
                  ROUND(1.0 / (1.0 + exp(-(
                    -1.0
                    + 1.2 * (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0
                                  WHEN n_tok BETWEEN 3 AND 9 THEN 0.5
                                  ELSE 0.0 END)
                    - 2.0 * (n_punct * 1.0 / len1)
                    + 1.5 * (n_alpha * 1.0 / len1)
                    + 2.0 * (sw_hits * 1.0 / greatest(n_tok, 1))
                    - 1.0 * (n_digit * 1.0 / len1)))), 6) AS score
           FROM m)"""

  /** Per-doc quality-score oracle chain (source, n_chars, score) —
    * shared by q_quality_model / q_calibration / q_auc / q_gains so the
    * scorer replay can never drift between its consumers. */
  private val qualityScoreOracleSql: String =
    s"""WITH ${toksCte("source, n_chars, text, length(text) AS n_char")},
         ${logitScoreCtes("source, n_chars", "toks")}
         SELECT source, n_chars, score FROM q"""

  /** q_lang_id oracle body (no ORDER BY) — shared verbatim with
    * q_lang_confusion so the two can never drift. */
  private val langIdOracleSql: String =
    raw"""WITH base AS (
           SELECT doc_id, text, lang,
                  $tokensSql AS toks,
                  greatest(length(text), 1) AS n_char
           FROM documents),
         scored AS (
           SELECT doc_id, lang, text, n_char,
                  greatest(len(toks), 1) AS n_tok,
                  len(list_filter(toks, t -> list_contains(
                    ['der','die','das','und','ist','von','mit','den','nicht','ein'], t))) AS h_de,
                  len(list_filter(toks, t -> list_contains(
                    ['the','and','of','to','in','is','that','it','for','with'], t))) AS h_en,
                  len(list_filter(toks, t -> list_contains(
                    ['el','la','los','las','y','de','que','es','un','por'], t))) AS h_es,
                  len(list_filter(toks, t -> list_contains(
                    ['le','la','les','et','de','un','une','est','que','pour'], t))) AS h_fr,
                  (length(text) - length(regexp_replace(text,
                    '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}]', '', 'g'))) * 1.0
                    / greatest(length(text), 1) AS cjk
           FROM base),
         m AS (
           SELECT doc_id, lang, cjk,
                  h_de * 1.0 / n_tok AS s_de, h_en * 1.0 / n_tok AS s_en,
                  h_es * 1.0 / n_tok AS s_es, h_fr * 1.0 / n_tok AS s_fr,
                  greatest(h_de * 1.0 / n_tok, h_en * 1.0 / n_tok,
                           h_es * 1.0 / n_tok, h_fr * 1.0 / n_tok) AS best
           FROM scored)
         SELECT doc_id,
                CASE WHEN cjk > 0.2 THEN 'zh'
                     WHEN best > 0 THEN
                       CASE WHEN s_de = best THEN 'de'
                            WHEN s_en = best THEN 'en'
                            WHEN s_es = best THEN 'es'
                            ELSE 'fr' END
                     ELSE 'und' END AS pred_lang,
                lang
         FROM m"""

  protected val paired: Seq[(String, Paired)] = Seq(

    // north-star composite: corpus cleaning end-to-end (quality filter →
    // normalized-text dedup → per-language stats), fully oracle-checked
    "q_corpus_pipeline" -> Paired((s, dir) => Pipelines.corpus(s, dir),
      s"""WITH ${toksCte("doc_id, text, lang, length(text) AS n_char")},
         scored AS (
           SELECT doc_id, text, lang, len(t) AS n_tok,
                  array_to_string(t, ' ') AS norm_text,
                  $heuristicQualitySql AS quality
           FROM toks),
         kept AS (SELECT * FROM scored WHERE quality >= 0.5),
         survivors AS (
           SELECT min(doc_id) AS doc_id FROM kept
           GROUP BY md5(norm_text)),
         deduped AS (
           SELECT k.* FROM kept k
           WHERE k.doc_id IN (SELECT doc_id FROM survivors))
         SELECT lang, count(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
                ROUND(AVG(quality), 4) AS avg_quality
         FROM deduped GROUP BY lang ORDER BY lang"""),

    // explode/unnest surface: token explosion + two-level re-aggregation
    "q_explode" -> Paired((s, dir) =>
      docs(s, dir).select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(30),
      s"""WITH t AS (
           SELECT doc_id,
                  unnest($tokensSql) AS token
           FROM documents)
         SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM t GROUP BY token ORDER BY n DESC, token ASC LIMIT 30"""),

    "q_text_stats" -> Paired((s, dir) =>
      docs(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("sum_tokens"),
          sum(bpeTokenCount(col("text")).cast("long")).as("sum_bpe_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang"),
      s"""SELECT lang, count(*) AS n_docs,
                CAST(SUM(len($tokensSql)) AS BIGINT) AS sum_tokens,
                CAST(SUM($bpeCountSql) AS BIGINT) AS sum_bpe_tokens,
                ROUND(AVG(n_chars), 4) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang"""),

    "q_text_quality" -> Paired((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tok"),
        bpeTokenCount(col("text")).as("n_bpe"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        qualityScore(col("text")).as("quality"),
        fingerprintMd5(col("text")).as("fp"),
        fingerprintNormalized(col("text")).as("fp_norm"))
        .orderBy("doc_id"),
      s"""WITH base AS (
           SELECT doc_id, text,
                  $tokensSql AS toks,
                  length(text) AS n_char
           FROM documents),
         m AS (
           SELECT doc_id, text, n_char, len(toks) AS n_tok,
                  $bpeCountSql AS n_bpe,
                  len(list_filter(toks, t -> list_contains($stopwordsSql, t)))
                    AS sw_hits,
                  array_to_string(toks, ' ') AS norm_text,
                  n_char - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                    AS n_punct,
                  n_char - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
                    AS n_alpha
           FROM base)
         SELECT doc_id, n_tok, n_bpe,
                ROUND(sw_hits * 1.0 / greatest(n_tok, 1), 6) AS stop_ratio,
                ROUND(
                  (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 1.0
                        WHEN n_tok BETWEEN 3 AND 9 THEN 0.5 ELSE 0.0 END) * 0.3
                  + (1.0 - least(n_punct * 4.0 / greatest(n_char, 1), 1.0)) * 0.3
                  + least(sw_hits * 5.0 / greatest(n_tok, 1), 1.0) * 0.2
                  + (n_alpha * 1.0 / greatest(n_char, 1)) * 0.2, 4) AS quality,
                md5(text) AS fp, md5(norm_text) AS fp_norm
         FROM m ORDER BY doc_id"""),

    // array-function surface: sort/slice/contains/distinct over token
    // arrays. Compared output is scalar-only (array_join) — the driver's
    // pandas-based compare can't sort array columns.
    "q_array_ops" -> Paired((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        array_join(slice(array_sort(tokens(col("text"))), 1, 3), " ").as("first3"),
        array_contains(tokens(col("text")), "spark").as("has_spark"),
        size(array_distinct(tokens(col("text")))).as("n_distinct"))
        .orderBy("doc_id"),
      s"""WITH ${toksCte("doc_id")}
         SELECT doc_id,
                array_to_string(list_sort(t)[1:3], ' ') AS first3,
                list_contains(t, 'spark') AS has_spark,
                len(list_distinct(t)) AS n_distinct
         FROM toks ORDER BY doc_id"""),

    // heavy hitters: Misra–Gries sketch aggregate (exact here because
    // capacity ≥ vocabulary, so the oracle can check it exactly)
    "q_heavy_hitters" -> Paired((s, dir) =>
      docs(s, dir)
        .agg(graft.functions.SketchAggregates
          .freqItems(tokens(col("text")), 10, 4096).as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.token").as("token"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc),
      s"""WITH t AS (
           SELECT unnest($tokensSql) AS token
           FROM documents)
         SELECT token, count(*) AS cnt FROM t
         GROUP BY token ORDER BY cnt DESC, token LIMIT 10"""),

    // heuristic language ID — deterministic stopword-argmax + CJK ratio,
    // replicated in the DuckDB oracle (ties broken lexicographically in
    // both engines)
    "q_lang_id" -> Paired((s, dir) =>
      docs(s, dir).select(col("doc_id"), langId(col("text")).as("pred_lang"), col("lang"))
        .orderBy("doc_id"),
      s"""$langIdOracleSql ORDER BY doc_id"""),

    "q_dedup_exact" -> Paired((s, dir) =>
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(fingerprintMd5(col("text"))).as("n_unique"),
        countDistinct(fingerprintNormalized(col("text"))).as("n_unique_norm")),
      s"""SELECT count(*) AS n_docs,
                count(DISTINCT md5(text)) AS n_unique,
                count(DISTINCT md5(array_to_string($tokensSql, ' '))) AS n_unique_norm
         FROM documents"""),

    // per-doc content fingerprints — the exact-dedup keys of
    // Dedup.exactByContent / dropExactDuplicates, md5-based so DuckDB
    // replays them exactly (hash-green). The hash-seeded winnowing
    // fingerprint variant stays covered by q_winnow_pairs' exact-Jaccard
    // oracle plus its unit specs (xxhash64 itself is engine-bound).
    "q_fingerprint" -> Paired((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        fingerprintMd5(col("text")).as("fp"),
        fingerprintNormalized(col("text")).as("fp_norm"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, md5(text) AS fp,
                md5(array_to_string($tokensSql, ' ')) AS fp_norm
         FROM documents ORDER BY doc_id"""),

    // MinHash+LSH near-dup pairs. The LSH candidate stage is hash-seeded,
    // but the OUTPUT is exact-Jaccard-verified, so it equals the all-pairs
    // result whenever banding recall at the threshold is 1 — which the
    // testdata guarantees (every true pair has j ≥ 0.9; per-pair miss
    // probability at 16 bands is (1-0.9⁴)¹⁶ ≈ 4e-8). Oracle: exact
    // all-pairs Jaccard in DuckDB.
    "q_minhash_pairs" -> Paired((s, dir) =>
      NearDup.pairs(docs(s, dir)).orderBy("a_id", "b_id"),
      shinglePairsSql("documents")),

    // incremental near-dup: a new batch (doc_id % 4 == 0) deduped against
    // the standing corpus without re-pairing corpus x corpus — the
    // nightly-ingestion shape; oracle = all-pairs Jaccard restricted to
    // pairs touching the batch
    "q_minhash_incremental" -> Paired((s, dir) => {
      val d = docs(s, dir)
      NearDup.pairsAgainst(
        d.filter(col("doc_id") % 4 =!= 0), d.filter(col("doc_id") % 4 === 0))
        .orderBy("a_id", "b_id")
    },
      s"""WITH ${toksCte("doc_id")}, ${shingleCte()}, $pairsCte
         SELECT a_id, b_id, jaccard FROM pairs
         WHERE a_id % 4 = 0 OR b_id % 4 = 0
         ORDER BY a_id, b_id"""),

    // SimHash near-dup pairs: shingle-feature fingerprint, chunk-bucketed
    // candidates (pigeonhole-EXACT at bands=8/maxHamming=7), exact-Jaccard
    // verified. The MD5-based cross-engine fingerprint makes the row fully
    // oracle-COMPARED: DuckDB recomputes every fingerprint bit-for-bit and
    // replays the definition (hamming <= 7 AND jaccard >= 0.5); the
    // XXH64-seeded production variant stays pinned by RecallSpec
    "q_simhash_pairs" -> Paired((s, dir) =>
      // uncapped: the oracle IS the relational definition, which the
      // pigeonhole argument only guarantees without the bucket guard
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text",
        crossEngineHash = true, maxBucketSize = Int.MaxValue)
        .orderBy("a_id", "b_id"),
      // full bit-for-bit replay of the MD5-based SimHash (SimHash64Md5):
      // fingerprint bit 4d+k is bit k of hex digit d of md5(shingle),
      // vote-summed over the DISTINCT 3-word shingles; the banded candidate
      // stage is pigeonhole-exact at bands=8/maxHamming=7, so the oracle is
      // the relational definition: all pairs with hamming <= 7 whose
      // rounded shingle-Jaccard >= 0.5
      s"""WITH ${toksCte("doc_id")},
         ${shingleCte()},
         feat AS (SELECT doc_id, md5(unnest(s)) AS h FROM sh),
         votes AS (
           SELECT doc_id, u.b AS b,
                  SUM(CASE WHEN (((strpos('0123456789abcdef',
                                          substr(h, CAST(u.b // 4 AS INT) + 1, 1)) - 1)
                                  >> CAST(u.b % 4 AS INT)) & 1) = 1
                           THEN 1 ELSE -1 END) AS v
           FROM feat, range(0, 64) AS u(b)
           GROUP BY doc_id, u.b),
         fp AS (
           SELECT doc_id,
                  CAST(SUM(CASE WHEN v > 0 THEN
                         CASE WHEN b = 63
                              THEN CAST(-9223372036854775807 - 1 AS HUGEINT)
                              ELSE CAST(1::BIGINT << CAST(b AS INT) AS HUGEINT) END
                       ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS f
           FROM votes GROUP BY doc_id),
         cand AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                  bit_count(xor(a.f, b.f)) AS hamming
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 7)
         SELECT c.a_id, c.b_id, c.hamming,
                ROUND(${jaccardSql("sa.s", "sb.s")}, 6) AS jaccard
         FROM cand c
         JOIN sh sa ON sa.doc_id = c.a_id
         JOIN sh sb ON sb.doc_id = c.b_id
         WHERE ROUND(${jaccardSql("sa.s", "sb.s")}, 6) >= 0.5
         ORDER BY a_id, b_id"""),

    // winnowing-fingerprint near-dup pairs. Like q_minhash_pairs, the
    // candidate stage is hash-seeded but the output is exact-Jaccard-
    // verified; near-identical docs always share winnowed prints, so the
    // output equals the all-pairs result (same oracle).
    "q_winnow_pairs" -> Paired((s, dir) =>
      Dedup.winnowingPairs(docs(s, dir), "doc_id", "text", threshold = 0.7)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id"),
      shinglePairsSql("documents")),

    // Exact substring-level dedup (Lee et al. 2022): maximal character
    // spans covered by a 30-gram occurring in >= 2 distinct docs. The
    // rolling-hash anchor stage is seeded, but every candidate is
    // re-verified against the real gram text, so the output is the
    // exact definition — the oracle recomputes it from substrings
    // directly, no hashes involved.
    "q_dup_spans" -> Paired((s, dir) =>
      Dedup.duplicateSpans(docs(s, dir), "doc_id", "text", minLen = 30)
        .orderBy("doc_id", "span_start"),
      // exact recompute of the substring-dedup definition: every 30-gram
      // by real substring (no hashes), dup = seen in >= 2 docs, island
      // merge of covered positions per doc
      s"""WITH ${spanGramsCtes(30)}, $dupAnchorCtes, ${spansCtes(30, "anch")}
         SELECT doc_id, span_start, span_end, span_len FROM spans
         ORDER BY doc_id, span_start"""),

    // Per-doc duplicated-character budget from the spans: the readout
    // that drives span-level filtering thresholds.
    "q_dup_coverage" -> Paired((s, dir) =>
      Dedup.duplicateSpanCoverage(docs(s, dir), "doc_id", "text", minLen = 30)
        .orderBy("doc_id"),
      s"""WITH ${spanGramsCtes(30)}, $dupAnchorCtes, ${spansCtes(30, "anch")},
         tot AS (
           SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_chars
           FROM spans GROUP BY doc_id)
         SELECT d2.doc_id, length(d2.text) AS n_chars,
                coalesce(t.dup_chars, 0) AS dup_chars,
                round(CAST(coalesce(t.dup_chars, 0) AS DOUBLE)
                      / length(d2.text), 6) AS dup_ratio
         FROM documents d2 LEFT JOIN tot t USING (doc_id)
         ORDER BY doc_id"""),

    // Span-level decontamination: corpus spans verbatim-shared (>= 30
    // chars) with a held-out "benchmark" slice (doc_id % 17 == 0).
    "q_contam_spans" -> Paired((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminatedSpans(
        d.filter(col("doc_id") % 17 =!= 0), d.filter(col("doc_id") % 17 === 0),
        "doc_id", "text", minLen = 30)
        .orderBy("doc_id", "span_start")
    },
      s"""WITH ${spanGramsCtes(30)},
         tg AS (
           SELECT DISTINCT g FROM grams WHERE doc_id % 17 = 0),
         anch AS (
           SELECT doc_id, pos FROM grams
           WHERE doc_id % 17 <> 0 AND g IN (SELECT g FROM tg)),
         ${spansCtes(30, "anch")}
         SELECT doc_id, span_start, span_end, span_len FROM spans
         ORDER BY doc_id, span_start"""),

    // Intra-doc repetition spans: regions covered by a 15-gram occurring
    // at least twice within the SAME doc — the looping/degenerate-text
    // detector.
    "q_self_repeat" -> Paired((s, dir) =>
      Dedup.selfRepetitionSpans(docs(s, dir), "doc_id", "text", minLen = 15)
        .orderBy("doc_id", "span_start"),
      // intra-doc repetition: same island merge, candidate rule is
      // per-(doc, gram) multiplicity >= 2 at L=15
      s"""WITH ${spanGramsCtes(15)},
         dup AS (
           SELECT doc_id, g FROM grams GROUP BY doc_id, g
           HAVING count(*) >= 2),
         anch AS (
           SELECT g2.doc_id, g2.pos FROM grams g2
           JOIN dup USING (doc_id, g)),
         ${spansCtes(15, "anch")}
         SELECT doc_id, span_start, span_end, span_len FROM spans
         ORDER BY doc_id, span_start"""),

    // The ACTION step: boilerplate strip — every duplicated span cut
    // from every doc (content appearing in >= 2 docs is template
    // residue under this policy). Oracle reconstructs each cleaned text
    // from the gap segments.
    "q_excise_spans" -> Paired((s, dir) => {
      val d = docs(s, dir)
      Dedup.exciseSpans(d,
        Dedup.duplicateSpans(d, "doc_id", "text", minLen = 30),
        "doc_id", "text")
        .orderBy("doc_id")
    },
      // excise replay: recompute the duplicated spans, then stitch each
      // cleaned text from the gap segments (lag boundary + tail piece)
      s"""WITH ${spanGramsCtes(30)}, $dupAnchorCtes, ${spansCtes(30, "anch")},
         $exciseSql"""),

    // Lee et al.'s actual dedup action — KEEP ONE: each duplicated
    // gram survives in its owner (min doc id) and is cut everywhere
    // else, so the corpus keeps exactly one copy of each passage.
    "q_excise_keep_one" -> Paired((s, dir) => {
      val d = docs(s, dir)
      Dedup.exciseSpans(d,
        Dedup.keepOneSpans(d, "doc_id", "text", minLen = 30),
        "doc_id", "text")
        .orderBy("doc_id")
    },
      // keep-one replay: anchors restricted to NON-OWNER docs (owner =
      // min doc id containing the gram), then the same stitch
      s"""WITH ${spanGramsCtes(30)}, $dupAnchorCtes,
         owners AS (
           SELECT g, min(doc_id) AS own FROM anch GROUP BY g),
         lose AS (
           SELECT a.doc_id, a.pos FROM anch a JOIN owners o USING (g)
           WHERE a.doc_id <> o.own),
         ${spansCtes(30, "lose")},
         $exciseSql"""),

    // connected components over the near-dup pair graph: each doc labeled
    // with the min id reachable through pairs (dedup families — pairwise
    // similarity is not transitive, dedup decisions must be). Pairs come
    // from the exact-verified MinHash path; oracle recomputes the closure
    // with a recursive CTE.
    "q_dedup_families" -> Paired((s, dir) => {
      val d = docs(s, dir)
      val pairs = NearDup.pairs(d)
      Dedup.dedupFamilies(d.select("doc_id"), pairs, "doc_id")
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${toksCte("doc_id")}, ${shingleCte()}, $pairsCte,
         $familyCtes
         SELECT doc_id, family FROM fam ORDER BY doc_id"""),

    // survivor selection: per dedup family keep the highest-quality doc
    // (min id tiebreak) — families from the exact-verified MinHash pairs,
    // quality rounded identically in both engines
    "q_family_survivors" -> Paired((s, dir) => {
      val d = docs(s, dir)
      val pairs = NearDup.pairs(d)
      val fams = Dedup.dedupFamilies(d.select("doc_id"), pairs, "doc_id")
      Dedup.keepBestPerFamily(
        d.select(col("doc_id"), qualityScore(col("text")).as("quality")),
        "doc_id", "quality", fams)
        .select("doc_id", "family", "quality")
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${toksCte("doc_id, text, length(text) AS n_char")},
         ${shingleCte()}, $pairsCte, $familyCtes,
         q AS (
           SELECT doc_id,
                  $heuristicQualitySql AS quality
           FROM toks),
         ranked AS (
           SELECT q.doc_id, f.family, q.quality,
                  row_number() OVER (PARTITION BY f.family
                    ORDER BY q.quality DESC, q.doc_id) AS rn
           FROM q JOIN fam f ON f.doc_id = q.doc_id)
         SELECT doc_id, family, quality FROM ranked WHERE rn = 1
         ORDER BY doc_id"""),

    // PMI bigram collocations: corpus-level pointwise mutual information
    // over adjacent token pairs (min count 5, top 20). Bigrams come out
    // of the native one-pass WordNgrams expression (non-distinct, every
    // occurrence counted); w1/w2 are recovered by substring_index for the
    // unigram joins (tokens never contain spaces).
    "q_pmi_bigrams" -> Paired((s, dir) => {
      val d = docs(s, dir)
      val biCnt = d.select(explode(
          graft.functions.TextExpressions.wordNgrams(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("w2", substring_index(col("bigram"), " ", -1))
      val uni = d.select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c_w"))
      // single-row × single-row: broadcast anyway — the repo convention
      // (lit-key/true-condition joins constant-fold to BNLJ; the
      // broadcast form is the only BNLJ PlanLint exempts)
      val totals = biCnt.agg(sum("c_ab").as("n_bi"))
        .crossJoin(broadcast(uni.agg(sum("c_w").as("n_uni"))))
      biCnt
        .join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), Seq("w2"))
        .crossJoin(broadcast(totals))
        .filter(col("c_ab") >= 5)
        // pmi = ln((c_ab/n_bi)·(n_uni/c_a)·(n_uni/c_b)): fixed double-op
        // order, bit-identical on both engines, no integer products (a
        // raw n_uni² Long would wrap past ~3e9 corpus tokens)
        .select(col("bigram"), col("c_ab"),
          round(log((col("c_ab").cast("double") / col("n_bi")) *
            (col("n_uni").cast("double") / col("c_a")) *
            (col("n_uni").cast("double") / col("c_b"))), 4).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram").asc)
        .limit(20)
    },
      s"""WITH ${toksCte("doc_id")},
         bi AS (
           SELECT unnest([{'w1': t[i], 'w2': t[i+1]} for i in range(1, len(t))]) AS b
           FROM toks WHERE len(t) >= 2),
         bic AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c_ab
                 FROM bi GROUP BY 1, 2),
         uni AS (SELECT unnest(t) AS w FROM toks),
         unic AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),
         tot AS (SELECT (SELECT CAST(SUM(c_ab) AS BIGINT) FROM bic) AS n_bi,
                        (SELECT CAST(SUM(c_w) AS BIGINT) FROM unic) AS n_uni)
         SELECT w1 || ' ' || w2 AS bigram, c_ab,
                ROUND(ln((CAST(c_ab AS DOUBLE) / n_bi) *
                         (CAST(n_uni AS DOUBLE) / a.c_w) *
                         (CAST(n_uni AS DOUBLE) / b.c_w)), 4) AS pmi
         FROM bic
         JOIN unic a ON a.w = bic.w1
         JOIN unic b ON b.w = bic.w2
         CROSS JOIN tot
         WHERE c_ab >= 5
         ORDER BY pmi DESC, bigram ASC LIMIT 20"""),

    // Gopher-style within-doc repetition: fraction of 3-gram occurrences
    // that are repeats (native WordNgrams pass, row-local, no shuffle)
    "q_repetition" -> Paired((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(graft.functions.TextExpressions.wordNgrams(col("text"), 3))
          .as("n_ngrams"),
        dupNgramFraction(col("text"), 3).as("dup_frac"))
        .orderBy("doc_id"),
      s"""WITH ${toksCte("doc_id")},
         g AS (
           SELECT doc_id,
                  CASE WHEN len(t) >= 3 THEN ${wordGramsSql(3)}
                  ELSE [] END AS gr
           FROM toks)
         SELECT doc_id, CAST(len(gr) AS INT) AS n_ngrams,
                CASE WHEN len(gr) = 0 THEN 0.0
                     ELSE ROUND(1.0 - len(list_distinct(gr)) * 1.0 / len(gr), 6)
                END AS dup_frac
         FROM g ORDER BY doc_id"""),

    // benchmark decontamination: train docs (doc_id >= 50) sharing ≥2
    // distinct 3-gram shingles with the eval set (doc_id < 50); the eval
    // shingle set is broadcast, the corpus side never shuffles its text
    "q_contamination" -> Paired((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminated(
        d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50),
        "doc_id", "text", n = 3, minShared = 2)
        .orderBy("doc_id")
    },
      s"""WITH ${toksCte("doc_id")},
         ${shingleCte()},
         test AS (SELECT DISTINCT unnest(s) AS sh FROM sh WHERE doc_id < 50),
         corpus AS (SELECT doc_id, unnest(s) AS sh FROM sh WHERE doc_id >= 50)
         SELECT c.doc_id, count(*) AS n_shared
         FROM corpus c JOIN test t USING (sh)
         GROUP BY c.doc_id HAVING count(*) >= 2 ORDER BY doc_id"""),

    // exact n-gram Jaccard near-dup pairs (bounded subset: all-pairs
    // verify path; oracle-checked)
    "q_ngram_jaccard" -> Paired((s, dir) =>
      Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") < 300), "doc_id", "text",
        n = 3, threshold = 0.7)
        .orderBy("a_id", "b_id"),
      shinglePairsSql("documents WHERE doc_id < 300")),

    // exact word-token Jaccard via PREFIX FILTERING (PPJoin candidate
    // rule): candidates only from rarest-first token prefixes — exact
    // at the threshold with no df cap and no recall loss; the oracle
    // replays the plain all-pairs Jaccard definition, so any pair the
    // prefix pruning loses (or invents) fails the hash. Bounded to a
    // doc slice like the other definition-oracle verify twins
    // (q_ngram_jaccard, q_embed_neardup): this synthetic corpus draws
    // from a tiny vocabulary, so most pairs ARE >0.8-similar and the
    // output (and any exact join's verify stage) is inherently
    // quadratic in corpus size — a property of the data, not the
    // operator; the content-pruned candidate stage is the scale path
    "q_prefix_jaccard" -> Paired((s, dir) =>
      Dedup.prefixFilterJaccardPairs(
        docs(s, dir).filter(col("doc_id") < 500), "doc_id", "text",
        threshold = 0.8)
        .orderBy("a_id", "b_id"),
      // the prefix-filter join is exact, so the oracle is the DEFINITION:
      // all-pairs distinct-token Jaccard, thresholded on the rounded value
      s"""WITH toks AS (
           SELECT doc_id, list_distinct($tokensSql) AS t
           FROM documents WHERE doc_id < 500),
         nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                ROUND(${jaccardSql("a.t", "b.t")}, 6) AS jaccard
         FROM nz a JOIN nz b ON a.doc_id < b.doc_id
         WHERE ROUND(${jaccardSql("a.t", "b.t")}, 6) >= 0.8
         ORDER BY a_id, b_id"""),

    // greedy sequence packing (training-batch assembly): one global lane
    // so the DuckDB recursive-CTE oracle can replay the identical walk
    "q_pack_sequences" -> Paired((s, dir) =>
      graft.operators.Packing.packGreedy(
        docs(s, dir).select(col("doc_id"), tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", budgetTokens = 2000, shards = 1)
        .select("doc_id", "n_tok", "batch")
        .orderBy("doc_id"),
      s"""WITH RECURSIVE d AS (
           SELECT doc_id,
                  CAST(len($tokensSql) AS BIGINT) AS n_tok,
                  row_number() OVER (ORDER BY doc_id) AS rn
           FROM documents),
         walk(rn, doc_id, n_tok, batch, acc) AS (
           SELECT rn, doc_id, n_tok, CAST(0 AS BIGINT), n_tok
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.rn, d.doc_id, d.n_tok,
                  CASE WHEN w.acc + d.n_tok > 2000 AND w.acc > 0
                       THEN w.batch + 1 ELSE w.batch END,
                  CASE WHEN w.acc + d.n_tok > 2000 AND w.acc > 0
                       THEN d.n_tok ELSE w.acc + d.n_tok END
           FROM walk w JOIN d ON d.rn = w.rn + 1)
         SELECT doc_id, n_tok, batch FROM walk ORDER BY doc_id"""),

    // BM25 top-k retrieval for a fixed probe query (Lucene-style scoring
    // variant — see Retrieval.bm25TopK); idf/tf arithmetic replayed
    // exactly by the DuckDB twin, ranking on the rounded score
    "q_bm25" -> Paired((s, dir) =>
      Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
        bm25Terms, k = 10),
      s"""WITH $bm25CorpusCtes, ${bm25TopCtes("top", bm25Terms, 10)}
         SELECT doc_id, score FROM top ORDER BY score DESC, doc_id"""),

    // retrieval evaluation harness: MRR / precision@k / recall@k of the
    // BM25 ranker against boolean-AND lexical relevance — the
    // division-only IR metrics (nDCG's log2 gains are libm-bound);
    // relevance, ranking, and every metric replay exactly in DuckDB
    "q_retrieval_eval" -> Paired((s, dir) =>
      Retrieval.retrievalEval(docs(s, dir), "doc_id", "text",
        Seq(bm25Terms, Seq("merge", "table")),
        k = 10),
      // per-query BM25 replay (q_bm25's CTE) + boolean-AND relevance via
      // list_has_all; MRR/precision/recall are single exact divisions
      s"""WITH $bm25CorpusCtes, ${bm25TopCtes("bm1", bm25Terms, 10)},
         r1 AS (SELECT doc_id, CAST(row_number() OVER
                  (ORDER BY score DESC, doc_id) AS INT) AS rank FROM bm1),
         rel1 AS (SELECT doc_id FROM toks
                  WHERE list_has_all(t, [${sqlList(bm25Terms)}])),
         ${bm25TopCtes("bm2", Seq("merge", "table"), 10)},
         r2 AS (SELECT doc_id, CAST(row_number() OVER
                  (ORDER BY score DESC, doc_id) AS INT) AS rank FROM bm2),
         rel2 AS (SELECT doc_id FROM toks
                  WHERE list_has_all(t, ['merge', 'table'])),
         m AS (
           SELECT 0 AS query_id, '${bm25Terms.mkString(" ")}' AS query,
                  (SELECT count(*) FROM rel1) AS n_rel,
                  (SELECT count(*) FROM r1 JOIN rel1 USING (doc_id)) AS n_hits,
                  (SELECT min(rank) FROM r1 JOIN rel1 USING (doc_id)) AS fr
           UNION ALL
           SELECT 1, 'merge table',
                  (SELECT count(*) FROM rel2),
                  (SELECT count(*) FROM r2 JOIN rel2 USING (doc_id)),
                  (SELECT min(rank) FROM r2 JOIN rel2 USING (doc_id)))
         SELECT query_id, query, n_rel, n_hits,
                ROUND(COALESCE(1.0 / fr, 0.0), 6) AS mrr,
                ROUND(n_hits / 10.0, 6) AS precision_k,
                ROUND(CASE WHEN n_rel > 0 THEN n_hits * 1.0 / n_rel
                      ELSE 0.0 END, 6) AS recall_k
         FROM m ORDER BY query_id"""),

    // hybrid retrieval: BM25 top-20 (lexical) ⊕ cosine top-20 around
    // doc 0's embedding (dense), fused by reciprocal rank (c=60) —
    // rank-based, so neither score needs calibrating; both input lists
    // are bounded, so the ranking windows sit under the limit exemption
    "q_rrf_fusion" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bm = Retrieval.bm25TopK(docs(s, dir), "doc_id", "text",
          bm25Terms, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select("doc_id", "rank")
      val e = Tables.load(s, dir, "embeddings")
      val en = graft.operators.Similarity.bruteForceTopK(
          e.filter(col("vec_id") === 0), e, "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(bm, en, "doc_id", "rank", c = 60, k = 10)
        .select(col("id").as("doc_id"), col("rank_a"), col("rank_b"),
          col("rrf"))
    },
      // BM25 top-20 (same scoring replay as q_bm25) ⊕ cosine top-20 for
      // query vector 0 (same norm/dot chain as q_embed_topk), fused by
      // 1/(60+rank) with the identical two-term sum order
      s"""WITH $bm25CorpusCtes, ${bm25TopCtes("bm", bm25Terms, 20)},
         bmr AS (SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                             AS INT) AS rank_a
                 FROM bm),
         nv AS (
           SELECT vec_id,
                  list_transform(embedding::DOUBLE[],
                    x -> x / sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                          y -> y * y)))) AS v
           FROM embeddings),
         qv AS (SELECT v FROM nv WHERE vec_id = 0),
         scored AS (
           SELECT c.vec_id AS doc_id,
                  ROUND(list_dot_product(qv.v, c.v), 6) AS cos
           FROM nv c CROSS JOIN qv WHERE c.vec_id <> 0),
         er AS (SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY cos DESC, doc_id)
                            AS INT) AS rank_b
                FROM scored ORDER BY cos DESC, doc_id LIMIT 20)
         SELECT COALESCE(bmr.doc_id, er.doc_id) AS doc_id,
                bmr.rank_a AS rank_a, er.rank_b AS rank_b,
                ROUND(COALESCE(1.0 / (60 + bmr.rank_a), 0.0)
                      + COALESCE(1.0 / (60 + er.rank_b), 0.0), 6) AS rrf
         FROM bmr FULL OUTER JOIN er ON bmr.doc_id = er.doc_id
         ORDER BY rrf DESC, doc_id LIMIT 10"""),

    // per-source exact-dup rate on the normalized fingerprint — the
    // one-line "how dirty is each source" report that decides whether
    // a source needs the full dedup pipeline before mixing
    "q_dedup_rate" -> Paired((s, dir) =>
      docs(s, dir).groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(graft.functions.TextFunctions
            .fingerprintNormalized(col("text"))).as("n_unique"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          round((col("n_docs") - col("n_unique")).cast("double") /
            col("n_docs"), 6).as("dup_rate"))
        .orderBy("source"),
      // same normalized-fingerprint replay as q_fingerprint
      s"""WITH f AS (
           SELECT source,
                  md5(array_to_string($tokensSql, ' ')) AS fp
           FROM documents)
         SELECT source, count(*) AS n_docs,
                count(DISTINCT fp) AS n_unique,
                ROUND(CAST(count(*) - count(DISTINCT fp) AS DOUBLE)
                      / count(*), 6) AS dup_rate
         FROM f GROUP BY source ORDER BY source"""),

    // exact repeated-paragraph detection: disjoint 20-token chunks
    // fingerprinted (md5), doc pairs sharing a chunk counted — the
    // chunk-granularity exact-substring dedup complementing
    // q_containment's gram-set view; hot fingerprints capped at df≤50
    // like every posting join here
    "q_chunk_dedup" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ch = Retrieval.chunkDocuments(docs(s, dir), "doc_id", "text",
          chunkSize = 20, stride = 20)
        .filter(col("n_tokens") === 20) // short tails carry no signal
        .select(col("doc_id"),
          md5(col("chunk_text").cast("binary")).as("fp"))
        .distinct()
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("__df") <= 50).drop("__df")
      ch.select(col("doc_id").as("a_id"), col("fp"))
        .join(ch.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared_chunks"))
        .orderBy("a_id", "b_id")
    },
      // same 20-token disjoint chunk replay as q_chunk's CTE (stride ==
      // chunkSize), same df≤50 cap
      s"""WITH ${toksCte("doc_id")},
         c AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         st AS (SELECT doc_id, t, n, unnest(range(0, n, 20)) AS start FROM c),
         ch AS (SELECT DISTINCT doc_id,
                       md5(array_to_string(t[start + 1 : start + 20], ' '))
                         AS fp
                FROM st WHERE least(20, n - start) = 20),
         dfc AS (SELECT fp FROM ch GROUP BY fp HAVING count(*) <= 50),
         cc AS (SELECT ch.doc_id, ch.fp FROM ch JOIN dfc USING (fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                count(*) AS shared_chunks
         FROM cc a JOIN cc b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY a_id, b_id ORDER BY a_id, b_id"""),

    // log2-bucketed token-count histogram over documents — the
    // sequence-length distribution that sizes packing/truncation;
    // bucket = bit length via bin(), integer-exact cross-engine
    "q_length_hist" -> Paired((s, dir) =>
      graft.operators.Profiling.lengthHistogram(
        docs(s, dir), size(tokens(col("text"))))
        .orderBy("bucket"),
      // bucket = bit length via bin(); same tokenization replay as the
      // other text queries
      s"""WITH t AS (
           SELECT CAST(len($tokensSql) AS BIGINT) AS n
           FROM documents)
         SELECT CAST(length(bin(n)) AS INT) AS bucket,
                count(*) AS n_docs,
                CAST(SUM(n) AS BIGINT) AS total_len,
                MIN(n) AS min_len, MAX(n) AS max_len
         FROM t GROUP BY bucket ORDER BY bucket"""),

    // asymmetric containment near-dups (quote/subset detection) over
    // capped 5-gram postings — the duplication direction Jaccard
    // misses; threshold on the rounded max-direction containment
    "q_containment" -> Paired((s, dir) =>
      Dedup.ngramContainmentPairs(docs(s, dir), "doc_id", "text",
        n = 5, threshold = 0.5, maxDf = 50)
        .orderBy("a_id", "b_id"),
      // same capped-gram definition on both engines: grams in ≤50 docs,
      // postings self-join, counts over capped sets only
      s"""WITH ${toksCte("doc_id")},
         gr AS (
           SELECT doc_id,
                  unnest(list_distinct(${wordGramsSql(5)})) AS g
           FROM toks WHERE len(t) >= 5),
         dfg AS (SELECT g FROM gr GROUP BY g HAVING count(*) <= 50),
         cg AS (SELECT gr.doc_id, gr.g FROM gr JOIN dfg USING (g)),
         sz AS (SELECT doc_id, count(*) AS n_g FROM cg GROUP BY doc_id),
         sh AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                       count(*) AS shared
                FROM cg a JOIN cg b ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY a_id, b_id)
         SELECT sh.a_id AS a_id, sh.b_id AS b_id, sh.shared AS shared,
                sa.n_g AS n_a, sb.n_g AS n_b,
                ROUND(GREATEST(CAST(sh.shared AS DOUBLE) / sa.n_g,
                               CAST(sh.shared AS DOUBLE) / sb.n_g), 4)
                  AS c_max
         FROM sh JOIN sz sa ON sa.doc_id = sh.a_id
                 JOIN sz sb ON sb.doc_id = sh.b_id
         WHERE ROUND(GREATEST(CAST(sh.shared AS DOUBLE) / sa.n_g,
                              CAST(sh.shared AS DOUBLE) / sb.n_g), 4) >= 0.5
         ORDER BY a_id, b_id"""),

    // per-source OOV rate against the corpus top-100 vocab — the
    // tokenizer-coverage report; vocab boundary tie-broken (count desc,
    // token asc) identically on both engines
    "q_vocab_coverage" -> Paired((s, dir) =>
      Retrieval.vocabCoverage(docs(s, dir), "source", "text", vocabSize = 100)
        .orderBy("source"),
      // top-100 vocab with the same (count desc, token asc) boundary
      s"""WITH toks AS (
           SELECT source,
                  unnest($tokensSql) AS w
           FROM documents),
         cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
         vocab AS (SELECT w FROM cnt ORDER BY c DESC, w ASC LIMIT 100)
         SELECT source, count(*) AS n_tokens, count(v.w) AS n_in_vocab,
                ROUND(1.0 - count(v.w) / CAST(count(*) AS DOUBLE), 6)
                  AS oov_rate
         FROM toks LEFT JOIN vocab v USING (w)
         GROUP BY source ORDER BY source"""),

    // deterministic ~2000-token-per-source prefix sample in md5(id)
    // order, summarized per source; the window is source-partitioned
    // with an (hash, id) total order
    "q_token_budget" -> Paired((s, dir) =>
      graft.ops.ScaleOps.tokenBudgetSample(
        docs(s, dir), "source", "doc_id", "text", budgetTokens = 2000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          max("cum_tok").as("last_cum"))
        .orderBy("source"),
      // same md5(id) walk order and running sum, BIGINT throughout
      s"""WITH t AS (
           SELECT source, doc_id AS id,
                  CAST(len($tokensSql) AS BIGINT) AS n_tok,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         c AS (SELECT source, id, n_tok,
                      CAST(SUM(n_tok) OVER (PARTITION BY source
                                            ORDER BY h, id
                                            ROWS UNBOUNDED PRECEDING)
                           AS BIGINT) AS cum_tok
               FROM t)
         SELECT source, count(*) AS n_docs,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                MAX(cum_tok) AS last_cum
         FROM c WHERE cum_tok - n_tok < 2000
         GROUP BY source ORDER BY source"""),

    // corpus n-gram duplication profile per source — the memorization-
    // risk metric: of each source's distinct 5-grams, what fraction
    // appears in ≥2 docs corpus-wide
    "q_dup_ngram_rate" -> Paired((s, dir) =>
      Dedup.ngramDupStats(docs(s, dir), "doc_id", "text", "source",
        n = 5, minDocs = 2)
        .orderBy("source"),
      s"""WITH ${toksCte("doc_id, source")},
         gr AS (
           SELECT doc_id, source,
                  unnest(list_distinct(${wordGramsSql(5)})) AS g
           FROM toks WHERE len(t) >= 5),
         dc AS (SELECT g, count(*) AS nd FROM gr GROUP BY g),
         sg AS (SELECT DISTINCT source, g FROM gr)
         SELECT sg.source AS source, count(*) AS n_grams,
                count(CASE WHEN dc.nd >= 2 THEN 1 END) AS n_dup,
                ROUND(count(CASE WHEN dc.nd >= 2 THEN 1 END)
                      / CAST(count(*) AS DOUBLE), 4) AS dup_rate
         FROM sg JOIN dc USING (g) GROUP BY sg.source ORDER BY source"""),

    // source×source 5-gram overlap matrix — pairwise cross-source
    // leakage (which PAIR shares content; q_dup_ngram_rate above is the
    // per-source rollup)
    "q_source_overlap" -> Paired((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), "source", "text", n = 5)
        .orderBy("src_a", "src_b"),
      s"""WITH ${toksCte("source")},
         gr AS (
           SELECT source, unnest(list_distinct(${wordGramsSql(5)})) AS g
           FROM toks WHERE len(t) >= 5),
         sg AS (SELECT DISTINCT source AS src, g FROM gr),
         sizes AS (SELECT src, count(*) AS n FROM sg GROUP BY src),
         shared AS (
           SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
           FROM sg a JOIN sg b USING (g)
           WHERE a.src < b.src GROUP BY 1, 2)
         SELECT s.src_a AS src_a, s.src_b AS src_b, s.n_shared AS n_shared,
                sa.n AS n_a, sb.n AS n_b,
                ROUND(s.n_shared /
                      CAST(sa.n + sb.n - s.n_shared AS DOUBLE), 6) AS jaccard
         FROM shared s
         JOIN sizes sa ON sa.src = s.src_a
         JOIN sizes sb ON sb.src = s.src_b
         ORDER BY src_a, src_b"""),

    // inverted-index build over the documents corpus: df + impact-
    // truncated postings per term. Postings flattened to "doc:tf" text
    // for the oracle compare (driver's pandas hash can't sort nested
    // list-of-struct columns — same rule as q_array_ops).
    "q_postings" -> Paired((s, dir) =>
      Retrieval.invertedIndex(docs(s, dir), "doc_id", "text",
        maxPostings = 20)
        .select(col("term"), col("df"),
          array_join(transform(col("postings"),
            p => concat(p.getField("doc_id"), lit(":"), p.getField("tf"))),
            " ").as("postings"))
        .orderBy(col("df").desc, col("term").asc)
        .limit(20),
      // inverted index: same tokenize, same (tf DESC, doc_id) truncation,
      // postings rendered doc_id-ordered as "doc:tf" text
      s"""WITH ${toksCte("doc_id")},
         tf AS (SELECT term, doc_id, count(*) AS tf
                FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
                GROUP BY term, doc_id),
         ranked AS (SELECT term, doc_id, tf,
                           count(*) OVER (PARTITION BY term) AS df,
                           row_number() OVER (PARTITION BY term
                             ORDER BY tf DESC, doc_id) AS rn
                    FROM tf)
         SELECT term, df,
                string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id) AS postings
         FROM ranked WHERE rn <= 20
         GROUP BY term, df
         ORDER BY df DESC, term LIMIT 20"""),

    // model-based quality filter: frozen logistic model over the text
    // features, scored row-local and aggregated per source — the
    // distributed-scoring half of a learned quality classifier
    "q_quality_model" -> Paired((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          qualityLogit(col("text")).as("score"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          count(when(col("score") >= 0.6, 1)).as("n_keep"),
          round(avg("score"), 4).as("avg_score"))
        .orderBy("source"),
      // frozen logistic quality model: identical feature arithmetic to the
      // q_text_quality twins plus the digit class, squashed by exp()
      s"""WITH sc AS ($qualityScoreOracleSql)
         SELECT source, count(*) AS n_docs,
                count(CASE WHEN score >= 0.6 THEN 1 END) AS n_keep,
                ROUND(AVG(score), 4) AS avg_score
         FROM sc GROUP BY source ORDER BY source"""),

    // RAG/pretraining chunking: overlapping 64-token windows, stride 48.
    // Chunk text compared by md5 to keep the oracle rows narrow.
    "q_chunk" -> Paired((s, dir) =>
      Retrieval.chunkDocuments(docs(s, dir), "doc_id", "text",
        chunkSize = 64, stride = 48)
        .select(col("doc_id"), col("chunk_idx"), col("n_tokens"),
          md5(col("chunk_text")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_idx"),
      // identical tokenize, start offsets every 48, 1-based inclusive list
      // slice == Spark's slice(toks, start+1, 64)
      s"""WITH ${toksCte("doc_id")},
         c AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
         st AS (SELECT doc_id, t, n, unnest(range(0, n, 48)) AS start FROM c)
         SELECT doc_id, start // 48 AS chunk_idx,
                least(64, n - start) AS n_tokens,
                md5(array_to_string(t[start + 1 : start + 64], ' ')) AS chunk_fp
         FROM st ORDER BY doc_id, chunk_idx"""),

    // positional phrase match (no index): per source, how many docs
    // contain "spark hash" as consecutive tokens — row-local HOF probe
    "q_phrase" -> Paired((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          phraseMatch(col("text"), Seq("spark", "hash")).as("hit"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          count(when(col("hit"), 1)).as("n_match"))
        .orderBy("source"),
      // same tokenize; consecutive-pair probe via 1-based list indexing
      // (t[i+1] past the end is NULL, which the filter drops — same
      // never-match semantics as Spark's try_element_at probe)
      s"""WITH ${toksCte("source")},
         m AS (SELECT source,
                      len(list_filter(range(1, greatest(len(t) - 1, 0) + 1),
                          i -> t[i] = 'spark' AND t[i+1] = 'hash')) > 0 AS hit
               FROM toks)
         SELECT source, count(*) AS n_docs,
                count(CASE WHEN hit THEN 1 END) AS n_match
         FROM m GROUP BY source ORDER BY source"""),

    // benchmark decontamination: which eval-set strings occur verbatim in
    // each document — ONE Aho–Corasick pass over the text per row for the
    // whole pattern set (N contains() probes would re-scan the text N
    // times); matched = sorted indices into the pattern list, rendered as
    // a comma-joined scalar (the oracle comparer can't hash ARRAY columns)
    "q_decontaminate" -> Paired((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.TextExpressions.multiPatternMatch(
            col("text"), decontaminationPatterns).as("matched_arr"))
        .withColumn("n_matched", size(col("matched_arr")))
        .filter(col("n_matched") > 0)
        .select(col("doc_id"),
          array_join(transform(col("matched_arr"), _.cast("string")), ",")
            .as("matched"),
          col("n_matched"))
        .orderBy("doc_id"),
      // pattern list mirrored verbatim from decontaminationPatterns;
      // matched = indices i (0-based) with contains(text, pats[i+1]),
      // comma-joined to a scalar so the comparer can sort/hash it
      """WITH p AS (SELECT ['merge batch', 'fast table', 'fast table value',
                            'value part', 'spark order', 'scan slow',
                            'hash value', 'row fast', 'window data'] AS pats),
         m AS (SELECT doc_id,
                      list_filter([0, 1, 2, 3, 4, 5, 6, 7, 8],
                                  i -> contains(text, pats[i + 1])) AS matched_arr
               FROM documents CROSS JOIN p)
         SELECT doc_id,
                array_to_string(list_transform(matched_arr,
                                               x -> CAST(x AS VARCHAR)), ',')
                  AS matched,
                CAST(len(matched_arr) AS INT) AS n_matched
         FROM m WHERE len(matched_arr) > 0
         ORDER BY doc_id"""),

    // unigram-LM quality signal: corpus-trained token frequencies, each
    // doc scored by mean token log-probability (low = corpus-atypical)
    "q_unigram_lm" -> Paired((s, dir) =>
      Retrieval.unigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      // same tokenize as the other text oracles; MLE unigram LM replay
      s"""WITH toks AS (
           SELECT doc_id,
                  unnest($tokensSql) AS w
           FROM documents),
         cnt AS (SELECT w, count(*) AS c_w FROM toks GROUP BY w),
         tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM cnt)
         SELECT doc_id, count(*) AS n_tokens,
                ROUND(avg(ln(CAST(c_w AS DOUBLE) / n_total)), 4) AS avg_logprob
         FROM toks JOIN cnt USING (w) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id"""),

    // TF-IDF keyword extraction: top-3 terms per document by
    // tf·ln(N/df), ranked on the rounded score (cross-engine rule)
    "q_tfidf" -> Paired((s, dir) =>
      Retrieval.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc_id", "term"),
      // same tokenization replay as q_unigram_lm; ranking replays the
      // rounded-score + term tiebreak exactly
      s"""WITH toks AS (
           SELECT doc_id,
                  unnest($tokensSql) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         sc AS (
           SELECT doc_id, term, tf, df,
                  ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS score
           FROM tf JOIN dfq USING (term) CROSS JOIN nd),
         rk AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, term ASC) AS rn
           FROM sc)
         SELECT doc_id, term, tf, df, score FROM rk WHERE rn <= 3
         ORDER BY doc_id, term"""),

    // bigram-LM quality signal (perplexity-ladder rung above
    // q_unigram_lm): add-0.5-smoothed P(w2|w1), mean log-prob per doc
    "q_bigram_lm" -> Paired((s, dir) =>
      Retrieval.bigramLogProb(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      // bigram generation replayed like q_pmi_bigrams; context counts
      // derived from the bigram counts; α=0.5 terms exactly representable
      s"""WITH ${toksCte("doc_id")},
         bi AS (
           SELECT doc_id,
                  unnest([t[i] || ' ' || t[i+1]
                          for i in range(1, len(t))]) AS bg
           FROM toks WHERE len(t) >= 2),
         bic AS (SELECT bg, count(*) AS c_bg FROM bi GROUP BY bg),
         ctx AS (SELECT split_part(bg, ' ', 1) AS w1,
                        CAST(SUM(c_bg) AS BIGINT) AS c_ctx
                 FROM bic GROUP BY 1),
         vv AS (SELECT count(DISTINCT w) AS v
                FROM (SELECT unnest(t) AS w FROM toks))
         SELECT b.doc_id, count(*) AS n_bigrams,
                ROUND(avg(ln((c_bg + 0.5) / (c_ctx + 0.5 * vv.v))), 4)
                  AS avg_logprob
         FROM bi b
         JOIN bic USING (bg)
         JOIN ctx ON ctx.w1 = split_part(bg, ' ', 1)
         CROSS JOIN vv
         GROUP BY b.doc_id ORDER BY doc_id"""),

    // per-source KL divergence from the corpus token distribution —
    // the multi-source distribution-drift diagnostic
    "q_source_kl" -> Paired((s, dir) =>
      Retrieval.sourceKlDivergence(docs(s, dir), "source", "text")
        .orderBy("source"),
      // log ratio as (c_sw/c_w)·(n/n_s), same fixed double-op order as
      // the Spark side — no integer products, overflow-free
      s"""WITH toks AS (
           SELECT source,
                  unnest($tokensSql) AS w
           FROM documents),
         sw AS (SELECT source, w, count(*) AS c_sw
                FROM toks GROUP BY source, w),
         ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
                FROM sw GROUP BY source),
         cw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w
                FROM sw GROUP BY w),
         tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw)
         SELECT sw.source, MAX(ns.n_s) AS n_tokens,
                ROUND(SUM((CAST(c_sw AS DOUBLE) / n_s) *
                          ln((CAST(c_sw AS DOUBLE) / c_w) *
                             (CAST(n AS DOUBLE) / n_s))), 4) AS kl
         FROM sw
         JOIN cw USING (w)
         JOIN ns ON ns.source = sw.source
         CROSS JOIN tot
         GROUP BY sw.source ORDER BY sw.source"""),

    // the WHOLE training-data pipeline as one call: language filter ->
    // quality floor -> decontamination -> exact dedup -> near-dup
    // families -> best-per-family -> leakage-safe split; the oracle
    // replays all seven stages from proven fragments
    "q_curate" -> Paired((s, dir) =>
      Pipelines.curateCorpus(docs(s, dir), "doc_id", "text", "lang",
        keepLangs = Seq("en"), minQuality = 0.6,
        evalPatterns = Seq("merge batch", "fast table", "hash value", "row fast"))
        .select("doc_id", "lang", "quality", "family", "split")
        .orderBy("doc_id"),
      // stages replayed from the q_quality_model / q_dedup_exact /
      // q_dedup_families / q_split_leakage oracle fragments
      s"""WITH RECURSIVE ${toksCte("doc_id, lang, text, length(text) AS n_char",
                                   "documents WHERE lang = 'en'")},
         ${logitScoreCtes("doc_id, lang, text, t", "toks")},
         kept AS (
           SELECT * FROM q
           WHERE score >= 0.6
             AND NOT (contains(text, 'merge batch')
                   OR contains(text, 'fast table')
                   OR contains(text, 'hash value')
                   OR contains(text, 'row fast'))),
         exact AS (
           SELECT * FROM kept k
           WHERE doc_id = (SELECT min(doc_id) FROM kept k2
                           WHERE md5(array_to_string(k2.t, ' ')) =
                                 md5(array_to_string(k.t, ' ')))),
         ${shingleCte("sh", "exact")}, $pairsCte, $reachCtes,
         fam AS (
           SELECT e.doc_id, e.lang, e.score AS quality,
                  least(e.doc_id, coalesce(min(r.dst), e.doc_id)) AS family
           FROM exact e LEFT JOIN reach r ON r.src = e.doc_id
           GROUP BY e.doc_id, e.lang, e.score),
         best AS (
           SELECT * FROM fam f
           WHERE doc_id = (SELECT f2.doc_id FROM fam f2
                           WHERE f2.family = f.family
                           ORDER BY f2.quality DESC, f2.doc_id ASC LIMIT 1))
         SELECT doc_id, lang, quality, family, $familySplitSql
         FROM best ORDER BY doc_id"""),

    // nightly increment: docs >= 250 curated AGAINST the standing corpus
    // (< 250) — corpus never self-paired; admitted = quality-gated,
    // decontaminated, no exact/near dup in corpus or earlier new doc
    "q_curate_increment" -> Paired((s, dir) => {
      val d = docs(s, dir)
      Pipelines.curateIncrement(
        d.filter(col("doc_id") >= 250),
        d.filter(col("doc_id") < 250).select("doc_id", "text"),
        "doc_id", "text", "lang", keepLangs = Seq("en"), minQuality = 0.6,
        evalPatterns = Seq("merge batch", "fast table"))
        .orderBy("doc_id")
    },
      s"""WITH ${toksCte("doc_id, lang, text, length(text) AS n_char")},
         corpus AS (SELECT * FROM toks WHERE doc_id < 250),
         ${logitScoreCtes("doc_id, lang, text, t",
                          "toks WHERE doc_id >= 250 AND lang = 'en'")},
         kept AS (
           SELECT * FROM q WHERE score >= 0.6
             AND NOT (contains(text, 'merge batch') OR contains(text, 'fast table'))),
         exact_new AS (
           SELECT * FROM kept k
           WHERE doc_id = (SELECT min(doc_id) FROM kept k2
                           WHERE md5(array_to_string(k2.t, ' ')) =
                                 md5(array_to_string(k.t, ' ')))),
         fresh AS (
           SELECT * FROM exact_new e
           WHERE NOT EXISTS (SELECT 1 FROM corpus c
                             WHERE md5(array_to_string(c.t, ' ')) =
                                   md5(array_to_string(e.t, ' ')))),
         ${shingleCte("shf", "fresh")}, ${shingleCte("shc", "corpus")},
         corp_dups AS (
           SELECT DISTINCT f.doc_id FROM shf f JOIN shc c
           ON ${jaccardSql("c.s", "f.s")} >= 0.7),
         new_dups AS (
           SELECT DISTINCT b.doc_id FROM shf a JOIN shf b
           ON a.doc_id < b.doc_id AND ${jaccardSql("a.s", "b.s")} >= 0.7)
         SELECT doc_id, lang, score AS quality,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33'
                     THEN 'test' ELSE 'train' END AS split
         FROM fresh
         WHERE doc_id NOT IN (SELECT doc_id FROM corp_dups)
           AND doc_id NOT IN (SELECT doc_id FROM new_dups)
         ORDER BY doc_id"""),

    // leakage-controlled train/test split: near-dup FAMILIES assigned to
    // splits atomically (md5-threshold on the family id), so no eval doc
    // has a near-duplicate in train; oracle replays closure + md5 rule
    "q_split_leakage" -> Paired((s, dir) => {
      val d = docs(s, dir)
      val pairs = NearDup.pairs(d)
      Dedup.leakageSafeSplit(d.select("doc_id"), pairs, "doc_id")
        .orderBy("doc_id")
    },
      // q_dedup_families' closure + the md5-threshold split rule
      s"""WITH RECURSIVE ${toksCte("doc_id")}, ${shingleCte()}, $pairsCte,
         $familyCtes
         SELECT doc_id, family, $familySplitSql
         FROM fam ORDER BY doc_id"""),

    // DSIR importance weights (Xie et al. 2023): hashed-unigram
    // log-likelihood ratio of each doc vs the English-target slice —
    // the classifier-free way to tilt a crawl toward a reference domain
    "q_dsir_weights" -> Paired((s, dir) =>
      graft.ops.ScaleOps.dsirWeights(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", buckets = 128)
        .orderBy("doc_id"),
      // same md5→60-bit→mod-128 bucketing, same add-one smoothing, the
      // single float op (ln) rounded to 6 dp before the EXACT decimal sum
      s"""WITH toks AS (
           SELECT doc_id, (lang = 'en') AS is_tgt,
                  unnest($tokensSql) AS tok
           FROM documents),
         b AS (
           SELECT doc_id, is_tgt,
                  ('0x' || substr(md5(tok), 1, 15))::BIGINT % 128 AS bucket
           FROM toks),
         stats AS (
           SELECT bucket, count(*) AS n_raw,
                  count(*) FILTER (WHERE is_tgt) AS n_tgt
           FROM b GROUP BY bucket),
         tot AS (SELECT SUM(n_raw) AS t_raw, SUM(n_tgt) AS t_tgt FROM stats),
         lr AS (
           SELECT bucket,
                  CAST(ROUND(ln(
                    ((n_tgt + 1.0) / (t_tgt + 128.0)) /
                    ((n_raw + 1.0) / (t_raw + 128.0))), 6)
                    AS DECIMAL(16,6)) AS lr
           FROM stats, tot)
         SELECT doc_id, count(*) AS n_tok, CAST(SUM(lr) AS DOUBLE) AS weight
         FROM b JOIN lr USING (bucket)
         GROUP BY doc_id ORDER BY doc_id"""),

    // RM3-lite pseudo-relevance feedback: BM25 pass 1 → top-5 docs'
    // frequent long terms expand the query at half weight → re-scored
    // top-10 (both rankings on rounded scores, integer-count term ties)
    "q_prf_expand" -> Paired((s, dir) =>
      Retrieval.prfExpandedTopK(docs(s, dir), "doc_id", "text",
        bm25Terms, fbDocs = 5, fbTerms = 5,
        beta = 0.5, k = 10),
      // two chained BM25 replays: pass-1 top-5 feedback docs, expansion =
      // top-5 (count desc, term asc) length-≥4 non-query terms at weight
      // 0.5, pass-2 weighted rescore — all ranking on rounded scores
      s"""WITH $bm25CorpusCtes, ${bm25TopCtes("pass1", bm25Terms, 5)},
         exp AS (
           SELECT term, 0.5 AS w
           FROM (SELECT unnest(t) AS term FROM toks
                 WHERE doc_id IN (SELECT doc_id FROM pass1)) u
           WHERE len(term) >= 4
             AND term NOT IN (${sqlList(bm25Terms)})
           GROUP BY term
           ORDER BY count(*) DESC, term LIMIT 5),
         weights AS (
           SELECT unnest([${sqlList(bm25Terms)}]) AS term, 1.0 AS w
           UNION ALL SELECT term, w FROM exp),
         tf2 AS (
           SELECT doc_id, term, w, count(*) AS tf
           FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
                JOIN weights USING (term)
           GROUP BY doc_id, term, w),
         df2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term)
         SELECT tf2.doc_id AS doc_id,
                ROUND(SUM(tf2.w * ${bm25TermSql("tf2", "df2")}), 4) AS score
         FROM tf2 JOIN df2 USING (term)
              JOIN base b ON tf2.doc_id = b.doc_id
              CROSS JOIN stats s
         GROUP BY tf2.doc_id
         ORDER BY score DESC, doc_id LIMIT 10"""),

    // "Fightin' Words" distinctive terms per source: Dirichlet-smoothed
    // z-scored log-odds vs the rest of the corpus, top-5 per source
    "q_log_odds" -> Paired((s, dir) =>
      graft.operators.Retrieval.logOddsTerms(docs(s, dir), "text", "source")
        .orderBy("source", "term"),
      // Monroe et al. log-odds with Dirichlet prior: vocab filtered to
      // global count >= 20 BEFORE totals, alpha=0.5, top-5 per source by
      // rounded z with term tiebreak
      s"""WITH toks AS (
           SELECT source,
                  unnest($tokensSql) AS term
           FROM documents),
         c AS (SELECT source, term, count(*) AS c_sw
               FROM toks GROUP BY 1, 2),
         g AS (SELECT term, SUM(c_sw) AS c_w FROM c
               GROUP BY term HAVING SUM(c_sw) >= 20),
         kept AS (SELECT c.source, c.term, c.c_sw, g.c_w
                  FROM c JOIN g USING (term)),
         ns AS (SELECT source, SUM(c_sw) AS n_s FROM kept GROUP BY source),
         tot AS (SELECT SUM(c_sw) AS n_tot, count(DISTINCT term) AS v
                 FROM kept),
         sc AS (
           SELECT k.source, k.term, k.c_sw,
                  CAST(k.c_sw AS DOUBLE) + 0.5 AS cs,
                  CAST(k.c_w - k.c_sw AS DOUBLE) + 0.5 AS cr,
                  CAST(ns.n_s AS DOUBLE) AS n_s,
                  CAST(t.n_tot - ns.n_s AS DOUBLE) AS n_r,
                  0.5 * t.v AS a0
           FROM kept k JOIN ns USING (source) CROSS JOIN tot t),
         z AS (
           SELECT source, term, c_sw,
                  ROUND((ln(cs / (n_s + a0 - cs)) - ln(cr / (n_r + a0 - cr)))
                        / sqrt(1.0 / cs + 1.0 / cr), 6) AS z
           FROM sc),
         rk AS (SELECT *, row_number() OVER (PARTITION BY source
                           ORDER BY z DESC, term ASC) AS rn
                FROM z)
         SELECT source, term, c_sw, z FROM rk WHERE rn <= 5
         ORDER BY source, term"""),

    // reliability diagram + ECE of the quality-model score against the
    // length proxy label — does a 0.8 score MEAN 80%? The calibration
    // gate that decides whether the keep-threshold is trustworthy
    "q_calibration" -> Paired((s, dir) =>
      Stats.calibration(
        docs(s, dir).select(qualityLogit(col("text")).as("score"),
          (col("n_chars") >= 150).as("label")),
        "score", "label", nBins = 100) // corpus scores cluster ~0.80–0.87
        .orderBy("bin"),
      // same per-doc score chain as q_quality_model; scores decimal-
      // summed per bin, per-bin ECE terms rounded then decimal-summed
      s"""WITH sc AS ($qualityScoreOracleSql),
         s AS (SELECT score,
                      CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS y
               FROM sc),
         binned AS (
           SELECT LEAST(99, CAST(FLOOR(score * 100) AS INTEGER)) AS bin,
                  count(*) AS n,
                  SUM(CAST(score AS DECIMAL(18,6))) AS ssum,
                  CAST(SUM(y) AS BIGINT) AS npos
           FROM s GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM binned),
         terms AS (
           SELECT bin, n,
                  ROUND(CAST(ssum AS DOUBLE) / n, 6) AS conf,
                  ROUND(CAST(npos AS DOUBLE) / n, 6) AS acc,
                  ROUND(abs(ROUND(CAST(npos AS DOUBLE) / n, 6)
                          - ROUND(CAST(ssum AS DOUBLE) / n, 6)), 6) AS gap,
                  CAST(ROUND(CAST(n AS DOUBLE) / t.n_total
                       * ROUND(abs(ROUND(CAST(npos AS DOUBLE) / n, 6)
                               - ROUND(CAST(ssum AS DOUBLE) / n, 6)), 6), 6)
                    AS DECIMAL(18,6)) AS ece_term
           FROM binned CROSS JOIN tot t),
         e AS (SELECT ROUND(CAST(SUM(ece_term) AS DOUBLE), 6) AS ece_total
               FROM terms)
         SELECT bin, n, conf, acc, gap, ece_total
         FROM terms CROSS JOIN e ORDER BY bin"""),

    // Zipf rank-frequency fit over the top-100 corpus terms: OLS of
    // ln f on ln rank (6-dp-rounded lns → exact decimal moments) —
    // natural text sits near slope −1; a synthetic or deduplicate-
    // starved corpus shows up immediately in the slope and r²
    "q_zipf_fit" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val top = docs(s, dir)
        .select(explode(
          graft.functions.TextExpressions.wordTokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("w")).limit(100)
      val ranked = top.withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("w"))))
      val x = round(log(col("rank").cast("double")), 6)
        .cast("decimal(18,6)")
      val y = round(log(col("f").cast("double")), 6).cast("decimal(18,6)")
      val m = ranked.agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * x).cast("decimal(38,12)")).as("sxx"),
        sum((y * y).cast("decimal(38,12)")).as("syy"),
        sum((x * y).cast("decimal(38,12)")).as("sxy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double")
      val sy = col("sy").cast("double")
      val cov = n * col("sxy").cast("double") - sx * sy
      val vx = n * col("sxx").cast("double") - sx * sx
      val vy = n * col("syy").cast("double") - sy * sy
      m.select(col("n").as("n_terms"),
        round(cov / vx, 4).as("zipf_slope"),
        round(cov * cov / (vx * vy), 4).as("r2"))
    },
      // same tokenize as the LM oracles; 6-dp lns → decimal moments
      s"""WITH toks AS (
           SELECT unnest($tokensSql) AS w
           FROM documents),
         cnt AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
         top AS (SELECT w, f FROM cnt ORDER BY f DESC, w LIMIT 100),
         ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, w)
                      AS rank FROM top),
         xy AS (
           SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS x,
                  CAST(ROUND(ln(CAST(f AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS y
           FROM ranked),
         m AS (SELECT count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
                 SUM(CAST(y * y AS DECIMAL(38,12))) AS syy,
                 SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
               FROM xy)
         SELECT n AS n_terms,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
             AS zipf_slope,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
             AS r2
         FROM m"""),

    // Heaps'-law vocabulary growth: V(n) ≈ K·n^β measured at 10
    // doc-id-decile checkpoints from token FIRST-OCCURRENCE docs (no
    // per-prefix rescan — one min-agg per token, one prefix fold),
    // β from the ln-ln OLS — the corpus-growth twin of q_zipf_fit
    "q_heaps_fit" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir).select(col("doc_id"), explode(
        graft.functions.TextExpressions.wordTokens(col("text"))).as("w"))
      val maxId = docs(s, dir).agg(max("doc_id").as("max_id"))
      val firstDoc = toks.groupBy("w").agg(min("doc_id").as("fd"))
      // decile bucket of a doc id — tokens/vocab fold into 10 buckets
      // by AGGREGATION (never a cutoff theta-join), cumulated by a
      // bounded 10-row prefix window
      def decile(c: Column) = (floor(c.cast("double") * 10 /
        (col("max_id") + 1)) + 1).cast("int")
      val vNew = firstDoc.crossJoin(broadcast(maxId))
        .groupBy(decile(col("fd")).as("dec")).agg(count(lit(1)).as("dv"))
      val tNew = toks.crossJoin(broadcast(maxId))
        .groupBy(decile(col("doc_id")).as("dec"))
        .agg(count(lit(1)).as("dt"))
      val wc = Window.orderBy("dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = vNew.join(tNew, Seq("dec"), "full_outer")
        .select(col("dec"), coalesce(col("dv"), lit(0L)).as("dv"),
          coalesce(col("dt"), lit(0L)).as("dt"))
        .limit(10000)
        .withColumn("v", sum("dv").over(wc))
        .withColumn("n_toks", sum("dt").over(wc))
        .filter(col("v") > 0 && col("n_toks") > 0)
      val x = round(log(col("n_toks").cast("double")), 6)
        .cast("decimal(18,6)")
      val y = round(log(col("v").cast("double")), 6).cast("decimal(18,6)")
      val m = pts.agg(count(lit(1)).as("k"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * x).cast("decimal(38,12)")).as("sxx"),
        sum((x * y).cast("decimal(38,12)")).as("sxy"))
      val k = col("k").cast("double")
      val sx = col("sx").cast("double")
      val sy = col("sy").cast("double")
      m.select(col("k").as("n_checkpoints"),
        round((k * col("sxy").cast("double") - sx * sy) /
          (k * col("sxx").cast("double") - sx * sx), 4).as("heaps_beta"))
    },
      // first-occurrence decile buckets + 10-row prefix fold; ln-ln OLS
      s"""WITH toks AS (
           SELECT doc_id, unnest($tokensSql) AS w
           FROM documents),
         mx AS (SELECT max(doc_id) AS max_id FROM documents),
         fd AS (SELECT w, min(doc_id) AS fdoc FROM toks GROUP BY w),
         vnew AS (
           SELECT CAST(FLOOR(CAST(f.fdoc AS DOUBLE) * 10
                    / (mx.max_id + 1)) + 1 AS INTEGER) AS dec,
                  count(*) AS dv
           FROM fd f CROSS JOIN mx GROUP BY 1),
         tnew AS (
           SELECT CAST(FLOOR(CAST(t.doc_id AS DOUBLE) * 10
                    / (mx.max_id + 1)) + 1 AS INTEGER) AS dec,
                  count(*) AS dt
           FROM toks t CROSS JOIN mx GROUP BY 1),
         j AS (
           SELECT COALESCE(v.dec, t.dec) AS dec, COALESCE(dv, 0) AS dv,
                  COALESCE(dt, 0) AS dt
           FROM vnew v FULL OUTER JOIN tnew t ON v.dec = t.dec),
         pts AS (
           SELECT dec,
                  CAST(SUM(dv) OVER wc AS BIGINT) AS v,
                  CAST(SUM(dt) OVER wc AS BIGINT) AS n_toks
           FROM j
           WINDOW wc AS (ORDER BY dec ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
         f2 AS (SELECT * FROM pts WHERE v > 0 AND n_toks > 0),
         xy AS (SELECT
                  CAST(ROUND(ln(CAST(n_toks AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS x,
                  CAST(ROUND(ln(CAST(v AS DOUBLE)), 6)
                       AS DECIMAL(18,6)) AS y
                FROM f2),
         m AS (SELECT count(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
                 SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy
               FROM xy)
         SELECT k AS n_checkpoints,
           ROUND((k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (k * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4)
             AS heaps_beta
         FROM m"""),

    // ROC AUC of the quality score vs the length label — the
    // Mann-Whitney form over per-DISTINCT-SCORE aggregates (tie-aware:
    // each positive credits negatives-below + half the same-score
    // negatives), all integer arithmetic until one final division; the
    // third leg of the classifier-eval family (confusion, calibration)
    "q_auc" -> Paired((s, dir) =>
      Stats.rocAuc(
        docs(s, dir).select(qualityLogit(col("text")).as("score"),
          (col("n_chars") >= 150).as("label")),
        "score", "label"),
      // Mann-Whitney over per-distinct-score aggregates; halves are exact
      s"""WITH sc AS ($qualityScoreOracleSql),
         s AS (SELECT score,
                      CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS y
               FROM sc),
         bs AS (SELECT score, CAST(SUM(y) AS BIGINT) AS pos,
                       CAST(SUM(1 - y) AS BIGINT) AS neg
                FROM s GROUP BY score),
         tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p_tot,
                        CAST(SUM(neg) AS BIGINT) AS n_tot FROM bs),
         cum AS (SELECT score, pos, neg,
                   COALESCE(CAST(SUM(neg) OVER (ORDER BY score
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) AS cum_neg
                 FROM bs)
         SELECT max(tot.p_tot) AS n_pos, max(tot.n_tot) AS n_neg,
                ROUND(SUM(CAST(pos AS DOUBLE) * (cum_neg + 0.5 * neg))
                      / (CAST(max(tot.p_tot) AS DOUBLE)
                         * max(tot.n_tot)), 6) AS auc
         FROM cum CROSS JOIN tot"""),

    // decile gains/lift table for the same score/label pair q_auc
    // compresses to one number: exact percentile thresholds (no global
    // sort), map-side band assignment, 10-row cumulative frame
    "q_gains" -> Paired((s, dir) =>
      Stats.gainsTable(
        docs(s, dir).select(qualityLogit(col("text")).as("score"),
          (col("n_chars") >= 150).as("label")),
        "score", "label", buckets = 10)
        .orderBy("band"),
      // same score CTE as q_auc; quantile_cont mirrors Spark's exact
      // interpolated percentile (parity precedent: q_percentile), band =
      // count of thresholds strictly below the 6-dp score
      s"""WITH sc AS ($qualityScoreOracleSql),
         s AS (SELECT score,
                      CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS y
               FROM sc),
         thr AS (SELECT quantile_cont(score,
                   [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS t
                 FROM s),
         b AS (SELECT CAST(11 - (1 + list_sum(list_transform(thr.t,
                        x -> CASE WHEN s.score > x THEN 1 ELSE 0 END)))
                        AS BIGINT) AS band,
                      s.y
               FROM s CROSS JOIN thr),
         g AS (SELECT band, count(*) AS n, CAST(SUM(y) AS BIGINT) AS conv
               FROM b GROUP BY band),
         w AS (SELECT band, n, conv,
                 SUM(n) OVER () AS tot_n,
                 SUM(conv) OVER () AS tot_conv,
                 SUM(conv) OVER (ORDER BY band ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cum_conv
               FROM g)
         SELECT band, n, conv,
                ROUND(CAST(conv AS DOUBLE) / n, 6) AS conv_rate,
                ROUND(CASE WHEN tot_conv > 0
                      THEN CAST(cum_conv AS DOUBLE) / tot_conv END, 6)
                  AS cum_capture,
                ROUND(CASE WHEN tot_conv > 0
                      THEN (CAST(conv AS DOUBLE) / n)
                           / (CAST(tot_conv AS DOUBLE) / tot_n) END, 6)
                  AS lift
         FROM w ORDER BY band"""),

    // NDCG@10 of the BM25 ranking with graded relevance (capped query-
    // term frequency): DCG/IDCG over the bounded top-k frame, gains
    // rounded then decimal-summed — completes the retrieval-eval family
    // (MRR/precision/recall) with the graded metric
    "q_ndcg" -> Paired((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val terms = bm25Terms
      val d = docs(s, dir)
      val top = Retrieval.bm25TopK(d, "doc_id", "text", terms, 10)
      val rel = d.select(col("doc_id"), explode(
          graft.functions.TextExpressions.wordTokens(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("doc_id").agg(least(lit(7L), count(lit(1))).as("rel"))
      val ranked = top.join(broadcast(rel), Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        // re-assert the top-k bound ABOVE the join: a left join's
        // maxRows is unknowable to the planner, and the global ranking
        // windows below are only sanctioned over a provably tiny frame
        .limit(10000)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .withColumn("irank", row_number().over(
          Window.orderBy(col("rel").desc, col("doc_id"))))
      def gain(rankCol: Column) = round(
        (pow(lit(2.0), col("rel")) - 1.0) /
          (log(rankCol + 1.0) / log(lit(2.0))), 6).cast("decimal(18,6)")
      ranked.agg(
          round(sum(gain(col("rank"))).cast("double"), 4).as("dcg"),
          round(sum(gain(col("irank"))).cast("double"), 4).as("idcg"))
        .select(col("dcg"), col("idcg"),
          round(col("dcg") / col("idcg"), 4).as("ndcg"))
    },
      // same BM25 chain as q_bm25; graded rel = capped term frequency;
      // gains rounded then decimal-summed; ndcg on the rounded pair
      s"""WITH $bm25CorpusCtes, ${bm25TopCtes("top", bm25Terms, 10)},
         rel AS (
           SELECT doc_id, LEAST(7, count(*)) AS rel
           FROM (SELECT doc_id, unnest(t) AS term FROM toks) u
           WHERE term IN (${sqlList(bm25Terms)})
           GROUP BY doc_id),
         r AS (SELECT t.doc_id, t.score, COALESCE(rel.rel, 0) AS rel
               FROM top t LEFT JOIN rel USING (doc_id)),
         rk AS (SELECT doc_id, rel,
                  row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
                  row_number() OVER (ORDER BY rel DESC, doc_id) AS irank
                FROM r),
         g AS (SELECT
                 CAST(ROUND((power(2.0, rel) - 1.0)
                      / (ln(rank + 1.0) / ln(2.0)), 6)
                   AS DECIMAL(18,6)) AS gain,
                 CAST(ROUND((power(2.0, rel) - 1.0)
                      / (ln(irank + 1.0) / ln(2.0)), 6)
                   AS DECIMAL(18,6)) AS igain
               FROM rk),
         a AS (SELECT ROUND(CAST(SUM(gain) AS DOUBLE), 4) AS dcg,
                      ROUND(CAST(SUM(igain) AS DOUBLE), 4) AS idcg
               FROM g)
         SELECT dcg, idcg, ROUND(dcg / idcg, 4) AS ndcg FROM a"""),

    // language-ID confusion matrix + accuracy against the stored lang
    // labels — the classifier-eval readout over the SAME langId scorer
    // q_lang_id exposes (shared oracle body, so they can never drift)
    "q_lang_confusion" -> Paired((s, dir) => {
      val p = docs(s, dir)
        .select(langId(col("text")).as("pred_lang"), col("lang"))
      val cm = p.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val acc = p.agg(round(
        sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 4).as("accuracy"))
      cm.crossJoin(broadcast(acc)).orderBy("lang", "pred_lang")
    },
      // verbatim langIdOracleSql as the prediction CTE
      s"""WITH pred AS ($langIdOracleSql),
         cm AS (SELECT lang, pred_lang, count(*) AS n
                FROM pred GROUP BY 1, 2),
         acc AS (SELECT ROUND(CAST(SUM(CASE WHEN lang = pred_lang
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
                   AS accuracy
                 FROM pred)
         SELECT cm.lang, cm.pred_lang, cm.n, acc.accuracy
         FROM cm CROSS JOIN acc ORDER BY cm.lang, cm.pred_lang"""),
  )
}

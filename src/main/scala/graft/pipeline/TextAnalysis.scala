package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Tables

/** Text analysis over the `documents` table: token counting, quality
  * scoring, language identification (n-gram/stopword heuristic) and
  * document fingerprinting — the per-document stages of a
  * training-data pipeline. All expressions are codegen'd builtins
  * (regexp_count / split / window functions); each op scales linearly
  * and shuffles only where a window/group requires it.
  */
object TextAnalysis {

  import Hashing._

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Token counting: whitespace tokens, BPE-ish regex tokens
    * (letter-runs | digits | single punctuation), distinct tokens. */
  def t1_text_tokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      col("n_chars"),
      length(col("text")).cast("long").as("len_text"),
      regexp_count(col("text"), lit("\\S+")).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).cast("long").as("bpe_tokens"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("distinct_tokens"))

  private val t1Sql = """
    SELECT doc_id, n_chars,
      CAST(LENGTH(text) AS BIGINT) AS len_text,
      CAST(LEN(REGEXP_EXTRACT_ALL(text, '\S+')) AS BIGINT) AS ws_tokens,
      CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
      CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS distinct_tokens
    FROM documents"""

  /** Quality scoring: length, punctuation ratio, stopword ratio,
    * average token length, and a combined score. Int counts divided
    * as doubles — identical in both engines. */
  def t2_text_quality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_tokens"),
        regexp_count(col("text"), lit("[.,!?;:]")).cast("long").as("n_punct"),
        regexp_count(col("text"), lit("\\b(the|a|of|and|to|in|is|it)\\b")).cast("long").as("n_stop"),
        length(col("text")).cast("long").as("n_len"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_punct"), col("n_stop"),
        (col("n_punct") / col("n_tokens")).as("punct_ratio"),
        (col("n_stop") / col("n_tokens")).as("stop_ratio"),
        ((col("n_len") - col("n_tokens") + 1) / col("n_tokens")).as("avg_token_len"),
        (least(col("n_tokens") / lit(100.0), lit(1.0)) * 0.4 +
          least(col("n_stop") / col("n_tokens") * 4.0, lit(1.0)) * 0.4 +
          greatest(lit(1.0) - col("n_punct") / col("n_tokens") * 10.0, lit(0.0)) * 0.2)
          .as("quality_score"))

  private val t2Sql = """
    WITH c AS (
      SELECT doc_id,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\S+')) AS BIGINT) AS n_tokens,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|to|in|is|it)\b')) AS BIGINT) AS n_stop,
        CAST(LENGTH(text) AS BIGINT) AS n_len
      FROM documents WHERE LENGTH(text) > 0)
    SELECT doc_id, n_tokens, n_punct, n_stop,
      n_punct / n_tokens AS punct_ratio,
      n_stop / n_tokens AS stop_ratio,
      (n_len - n_tokens + 1) / n_tokens AS avg_token_len,
      LEAST(n_tokens / 100.0, 1.0) * 0.4
        + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.4
        + GREATEST(1.0 - n_punct / n_tokens * 10.0, 0.0) * 0.2 AS quality_score
    FROM c"""

  /** Language ID: stopword-profile scores per language + CJK char
    * count, argmax with a fixed tie-break order. The corpus text is
    * synthetic (vocabulary is decorrelated from the declared `lang`
    * column), so `is_match` reports heuristic-vs-declared agreement
    * rather than ground-truth accuracy. */
  def t3_text_langid(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"), col("lang").as("declared_lang"),
        regexp_count(col("text"), lit("\\b(the|a|of|and|to|in|is)\\b")).cast("long").as("score_en"),
        regexp_count(col("text"), lit("\\b(le|la|les|de|et|un|une)\\b")).cast("long").as("score_fr"),
        regexp_count(col("text"), lit("\\b(el|los|las|y|un|una)\\b")).cast("long").as("score_es"),
        regexp_count(col("text"), lit("\\b(der|die|das|und|ein|zu)\\b")).cast("long").as("score_de"),
        regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long").as("score_zh"))
      .withColumn("predicted_lang",
        when(col("score_en") >= col("score_fr") && col("score_en") >= col("score_es") &&
          col("score_en") >= col("score_de") && col("score_en") >= col("score_zh"), "en")
          .when(col("score_fr") >= col("score_es") && col("score_fr") >= col("score_de") &&
            col("score_fr") >= col("score_zh"), "fr")
          .when(col("score_es") >= col("score_de") && col("score_es") >= col("score_zh"), "es")
          .when(col("score_de") >= col("score_zh"), "de")
          .otherwise("zh"))
      .withColumn("is_match", (col("predicted_lang") === col("declared_lang")).cast("int"))

  private val t3Sql = """
    WITH sc AS (
      SELECT doc_id, lang AS declared_lang,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|to|in|is)\b')) AS BIGINT) AS score_en,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(le|la|les|de|et|un|une)\b')) AS BIGINT) AS score_fr,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(el|los|las|y|un|una)\b')) AS BIGINT) AS score_es,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(der|die|das|und|ein|zu)\b')) AS BIGINT) AS score_de,
        CAST(LEN(REGEXP_EXTRACT_ALL(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS score_zh
      FROM documents)
    SELECT *,
      CASE WHEN score_en >= score_fr AND score_en >= score_es
             AND score_en >= score_de AND score_en >= score_zh THEN 'en'
           WHEN score_fr >= score_es AND score_fr >= score_de
             AND score_fr >= score_zh THEN 'fr'
           WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'
           WHEN score_de >= score_zh THEN 'de'
           ELSE 'zh' END AS predicted_lang,
      CAST(CASE WHEN score_en >= score_fr AND score_en >= score_es
             AND score_en >= score_de AND score_en >= score_zh THEN 'en'
           WHEN score_fr >= score_es AND score_fr >= score_de
             AND score_fr >= score_zh THEN 'fr'
           WHEN score_es >= score_de AND score_es >= score_zh THEN 'es'
           WHEN score_de >= score_zh THEN 'de'
           ELSE 'zh' END = declared_lang AS INT) AS is_match
    FROM sc"""

  /** Distinct char-5-gram rows for a document table — the shared
    * explode used by fingerprinting and the dedup family. One row per
    * (doc_id, gram code); scales as O(total chars). */
  private[pipeline] def gramCodes(d: DataFrame): DataFrame = {
    // Widen BEFORE the ~40x fan-out (one gram row per character) so
    // the explode and the distinct's partial hash-aggregation
    // parallelize — see [[graft.operators.Tables.widen]] for why the
    // scan alone is one task at any data size.
    //
    // Codes come from ONE codegen'd byte pass per document
    // ([[graft.functions.GramCodes]]): r15 replaced the O(len²)
    // per-position substring with a char-code array + element_at
    // transform; r16 collapses the remaining two interpreted lambdas
    // (char-code build + per-position polynomial, one boxed Long per
    // code point per step) into a fused JVM loop — the dedup family's
    // true inner loop (d2/d3/d4/d11/d13/t4 all derive from this
    // table). Same base-31 polynomial over the same code points, so
    // every emitted (doc_id, code) row — and the shared cache key's
    // downstream — is bit-identical; the oracle fragment (gramSqlFor)
    // is untouched. The explode bound is now structural (the
    // expression sizes its own output), closing the r15 ADVICE note
    // about `size(split(text, '')) - 4` depending on Spark ≥ 3.4's
    // trailing-empty-element behavior.
    graft.operators.Tables.widen(
        d.filter(length(col("text")) >= 5).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(graft.functions.GramCodes(col("text"))).as("code"))
      .distinct()
      // Shared materialization: fingerprint + the whole dedup family
      // derive from this explode, and self-joins reference it twice.
      // Spark's CacheManager dedups by canonicalized plan, so every
      // caller shares ONE cached gram table (the "gram index" a
      // production pipeline would write to storage once).
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Shared oracle fragment mirroring [[gramCodes]]. DuckDB's `range`
    * table function rejects lateral column args; scalar `range()`
    * returns a list, which UNNEST explodes. */
  private[pipeline] val gramSql = gramSqlFor("")

  /** Oracle-side corpus reference under an optional text-column
    * transform (PipeFuzz's NULL-text lane): `textSql` is a scalar SQL
    * expression for the text column — the SAME string the engine
    * applies via `withColumn` — rendered as a derived table so every
    * downstream `FROM documents` reads the transformed corpus. The
    * default leaves the committed gate oracles byte-identical. */
  private[pipeline] def corpusRef(textSql: String): String =
    if (textSql == "text") "documents"
    else s"""(SELECT doc_id, $textSql AS text, lang, source, n_chars
             FROM documents) AS documents"""

  /** [[gramSql]] under an optional extra documents predicate (fuzz
    * corpus slices — the predicate text is shared with the engine)
    * and an optional text transform (NULL-text lane; a NULL text
    * fails `length(text) >= 5` identically in Spark and DuckDB, so
    * nulled docs vanish from the gram index on both engines). */
  private[pipeline] def gramSqlFor(whereSql: String,
      textSql: String = "text"): String = {
    val extra = if (whereSql.isEmpty) "" else s" AND ($whereSql)"
    s"""SELECT DISTINCT doc_id, ${gramCode("substring(text, i, 5)")} AS code
        FROM (SELECT doc_id, text, UNNEST(range(1, length(text) - 3)) AS i
              FROM ${corpusRef(textSql)} WHERE length(text) >= 5$extra) src"""
  }

  /** Document fingerprinting: the 4 smallest permutation-hashes of the
    * document's distinct 5-gram codes (a min-k sketch / winnowing-style
    * fingerprint). Deterministic tie-break on (hash, code). */
  def t4_text_fingerprint(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("h"), col("code"))
    gramCodes(docs(s, dir))
      .select(col("doc_id"), col("code"), expr(permHash(1, "code")).as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 4)
      .select(col("doc_id"), col("rk"), col("h"))
  }

  private val t4Sql = s"""
    WITH g AS ($gramSql),
    h AS (SELECT doc_id, code, ${permHash(1, "code")} AS h FROM g)
    SELECT doc_id, CAST(rk AS BIGINT) AS rk, h FROM (
      SELECT doc_id, h,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h, code) AS rk
      FROM h) x
    WHERE rk <= 4"""

  /** Corpus cleaning: stopword removal + whitespace squeeze — the
    * text-normalization stage before tokenizer training. Output is
    * the removal count plus an md5 of the cleaned text, so the oracle
    * verifies CONTENT equality without shipping the corpus through
    * the compare. Same regex subset (word-boundary alternation) in
    * Java regex and RE2. */
  def t5_text_clean(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit("\\b(the|a|of|and|to|in|is|it)\\b")).cast("long").as("n_removed"),
      md5(trim(regexp_replace(regexp_replace(
        col("text"), "\\b(the|a|of|and|to|in|is|it)\\b", ""), " +", " ")).cast("binary"))
        .as("clean_md5"),
      length(trim(regexp_replace(regexp_replace(
        col("text"), "\\b(the|a|of|and|to|in|is|it)\\b", ""), " +", " ")))
        .cast("long").as("clean_len"))

  private val t5Sql = """
    SELECT doc_id,
      CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(the|a|of|and|to|in|is|it)\b')) AS BIGINT) AS n_removed,
      md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(text, '\b(the|a|of|and|to|in|is|it)\b', '', 'g'), ' +', ' ', 'g'))) AS clean_md5,
      CAST(LENGTH(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(text, '\b(the|a|of|and|to|in|is|it)\b', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS clean_len
    FROM documents"""

  /** Repetition signals (Gopher-style quality filters, Rae et al.
    * 2021 §A1.1): fraction of words covered by the most frequent
    * unigram/bigram, and the fraction of word trigrams that occur
    * more than once — the "is this document degenerate boilerplate"
    * filter of a pretraining pipeline. Each n-gram family is an
    * explode → two-level aggregate (map-side partial combine, shuffle
    * key = (doc_id, gram) then doc_id), so the shuffle volume is
    * O(total words) and per-doc state is one counter — linear at any
    * corpus size. Counts are exact int64; the fractions are single
    * int÷int double divisions (identical in both engines). */
  def t6_text_repetition(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
    def gramCounts(gram: DataFrame): DataFrame =
      gram.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val uni = gramCounts(words.select(col("doc_id"), explode(col("w")).as("g")))
      .groupBy("doc_id").agg(
        sum("c").cast("long").as("n_words"),
        count(lit(1)).cast("long").as("distinct_words"),
        max("c").cast("long").as("top1_count"))
    val bi = gramCounts(words.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w)-1), i -> concat(w[i-1], ' ', w[i]))")).as("g")))
      .groupBy("doc_id").agg(max("c").cast("long").as("top2_count"))
    val tri = gramCounts(words.select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w)-2), i -> concat(w[i-1], ' ', w[i], ' ', w[i+1]))")).as("g")))
      .groupBy("doc_id").agg(
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).cast("long").as("dup3_words"),
        sum("c").cast("long").as("n_tri"))
    uni.join(bi, "doc_id").join(tri, "doc_id")
      .select(col("doc_id"), col("n_words"), col("distinct_words"),
        col("top1_count"), col("top2_count"), col("dup3_words"),
        (col("top1_count") / col("n_words")).as("top1_frac"),
        (col("top2_count") / (col("n_words") - 1)).as("top2_frac"),
        (col("dup3_words") / col("n_tri")).as("dup3_frac"))
  }

  private val t6Sql = """
    WITH w AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
    uni AS (
      SELECT doc_id,
        CAST(SUM(c) AS BIGINT) AS n_words,
        CAST(COUNT(*) AS BIGINT) AS distinct_words,
        CAST(MAX(c) AS BIGINT) AS top1_count
      FROM (SELECT doc_id, g, COUNT(*) AS c
            FROM (SELECT doc_id, UNNEST(w) AS g FROM w) x GROUP BY 1, 2) u
      GROUP BY doc_id),
    bi AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_count
      FROM (SELECT doc_id, g, COUNT(*) AS c
            FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
                  FROM (SELECT doc_id, w, UNNEST(range(1, LEN(w))) AS i FROM w) y) x
            GROUP BY 1, 2) u
      GROUP BY doc_id),
    tri AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup3_words,
        CAST(SUM(c) AS BIGINT) AS n_tri
      FROM (SELECT doc_id, g, COUNT(*) AS c
            FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
                  FROM (SELECT doc_id, w, UNNEST(range(1, LEN(w) - 1)) AS i FROM w) y) x
            GROUP BY 1, 2) u
      GROUP BY doc_id)
    SELECT uni.doc_id, n_words, distinct_words, top1_count, top2_count, dup3_words,
      top1_count / n_words AS top1_frac,
      top2_count / (n_words - 1) AS top2_frac,
      dup3_words / n_tri AS dup3_frac
    FROM uni JOIN bi ON uni.doc_id = bi.doc_id JOIN tri ON uni.doc_id = tri.doc_id"""

  /** Collocation mining: top bigrams by pointwise mutual information
    * — the phrase-detection statistic of tokenizer/vocab training
    * (Mikolov et al. 2013 §4 use the same count form). The score is
    * the exact integer rational `nab·N·10^6 div (na·nb)` (monotone in
    * PMI for fixed N), so ranking is bit-reproducible on any engine —
    * the same no-transcendentals discipline as c4's idf. Shuffles:
    * unigram and bigram counts each aggregate with map-side partials
    * on their gram key; the per-token unigram table is vocabulary-
    * sized, so both enrichment joins BROADCAST — the corpus-sized
    * bigram table never reshuffles. Overflow bound: `nab·nw·10^6`
    * must stay under 2^63, i.e. nab·nw < 9.2·10^12 — fine to ~10M-
    * token corpora with 1M-count bigrams; past that switch the score
    * to DECIMAL(38,0) on both engines (or log space, giving up the
    * bit-exact oracle). */
  def t7_text_pmi(s: SparkSession, dir: String): DataFrame = {
    val words = docs(s, dir).select(split(col("text"), " ").as("w"))
    // vocabulary-sized and consumed three times (both join sides +
    // the total) — persist so the corpus explode runs once, not 3×.
    // Repeat calls don't stack cache entries: CacheManager keys by
    // canonicalized plan, so the same (dir) hits the same entry.
    val uni = words.select(explode(col("w")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bi = words
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(w)-1), i -> named_struct('a', w[i-1], 'b', w[i]))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .groupBy("a", "b").agg(count(lit(1)).as("nab"))
    val total = uni.agg(sum("n").cast("long").as("nw"))
    val ua = uni.toDF("a", "na")
    val ub = uni.toDF("b", "nb")
    bi.join(broadcast(ua), "a").join(broadcast(ub), "b")
      .crossJoin(broadcast(total))
      .withColumn("pmi_score", expr("(nab * nw * 1000000) div (na * nb)"))
      .orderBy(col("pmi_score").desc, col("a"), col("b"))
      .limit(50)
      .select("a", "b", "nab", "pmi_score")
  }

  private val t7Sql = """
    WITH w AS (SELECT STRING_SPLIT(text, ' ') AS w FROM documents),
    uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT UNNEST(w) AS t FROM w) x WHERE t <> '' GROUP BY t),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nw FROM uni),
    bi AS (SELECT w[i] AS a, w[i+1] AS b, CAST(COUNT(*) AS BIGINT) AS nab
           FROM (SELECT w, UNNEST(range(1, LEN(w))) AS i FROM w WHERE LEN(w) >= 2) y
           WHERE w[i] <> '' AND w[i+1] <> ''
           GROUP BY 1, 2)
    SELECT a, b, nab,
      CAST((nab * nw * 1000000) // (ua.n * ub.n) AS BIGINT) AS pmi_score
    FROM bi JOIN uni ua ON bi.a = ua.t JOIN uni ub ON bi.b = ub.t CROSS JOIN tot
    ORDER BY pmi_score DESC, a, b
    LIMIT 50"""

  /** Corpus heavy hitters via the Misra-Gries sketch aggregator
    * ([[graft.functions.MisraGries]]): O(k) state per task, sketches
    * merge in the shuffle — the constant-memory alternative to c3's
    * exact vocabulary when the token space is unbounded (URLs,
    * hostnames, n-grams at web scale). Restated as a machine-checkable
    * bounded assertion: the exact-frequent tokens (true count > N/k)
    * are inner-joined against the sketch counters — MG guarantees every
    * true-frequent token survives the merge, so a dropped token shows
    * up as a row-count mismatch against the oracle — and `within_bound`
    * asserts est ≤ true ≤ est+undercount per hit. The oracle recomputes
    * the exact-frequent set and emits literal TRUE; sketch internals
    * (merge-order invariance, k-counter cap) stay pinned in
    * HeavyHittersSpec. The sketch side is ≤ k rows, so the join
    * broadcasts; the exact side is the same vocabulary-shuffle shape
    * as c3. */
  def t8_text_heavyhitters(s: SparkSession, dir: String): DataFrame = {
    val k = 32
    val mg = udaf(new graft.functions.MisraGries(k))
    val tokens = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
    val sketch = tokens
      .agg(mg(col("t")).as("sketch"), count(lit(1)).as("n"))
      .select(explode(col("sketch")).as("hit"), col("n"))
      .select(col("hit.token").as("token"),
        col("hit.est_count"), col("hit.max_count"), col("n"))
    val exact = tokens.groupBy(col("t").as("token"))
      .agg(count(lit(1)).as("exact_count"))
    exact.join(broadcast(sketch), "token")
      .filter(col("exact_count") * k > col("n"))
      .select(col("token"), col("exact_count"), col("n"),
        (col("est_count") <= col("exact_count") &&
          col("exact_count") <= col("max_count")).as("within_bound"))
      .orderBy(col("exact_count").desc, col("token"))
  }

  private val t8Sql = """
    WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
    u AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_count
          FROM tok WHERE t <> '' GROUP BY t),
    tot AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS n FROM u)
    SELECT t AS token, exact_count, n, TRUE AS within_bound
    FROM u CROSS JOIN tot
    WHERE exact_count * 32 > n
    ORDER BY exact_count DESC, token"""

  /** PII redaction — the scrubbing stage every training pipeline runs
    * before tokenization: count and mask emails / phone numbers / IPs.
    * The corpus is synthetic word-salad with no PII, so each row first
    * gets deterministic fixture PII derived from `doc_id` (identical
    * construction in the oracle: emails on ⅔ of rows, phones on ½,
    * an IP on all) — the operator under test is the detector/redactor
    * expression chain. Verified by md5 of the redacted text, like t5:
    * content equality without shipping the corpus through the compare.
    * Pure per-row codegen'd expressions: zero shuffles, linear scan,
    * the regex subset (char classes, bounded repeats, \b) behaves
    * identically in Java regex and RE2. */
  def t9_text_pii(s: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+1-555-[0-9]{4}"
    val ip = "\\b10\\.[0-9]{1,3}\\.0\\.1\\b"
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      col("raw"), lit(email), lit("<EMAIL>")), lit(phone), lit("<PHONE>")),
      lit(ip), lit("<IP>"))
    docs(s, dir)
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        lit(" host 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")).as("raw"))
      .select(col("doc_id"),
        regexp_count(col("raw"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(phone)).cast("long").as("n_phones"),
        regexp_count(col("raw"), lit(ip)).cast("long").as("n_ips"),
        md5(redacted.cast("binary")).as("red_md5"),
        length(redacted).cast("long").as("red_len"))
  }

  private val t9Sql = """
    WITH raw AS (
      SELECT doc_id,
        text
          || CASE WHEN doc_id % 3 <> 0
               THEN ' contact user' || doc_id || '@mail.example.com' ELSE '' END
          || CASE WHEN doc_id % 2 = 0
               THEN ' call +1-555-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || ' host 10.' || (doc_id % 256) || '.0.1' AS raw
      FROM documents)
    SELECT doc_id,
      CAST(LEN(REGEXP_EXTRACT_ALL(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(LEN(REGEXP_EXTRACT_ALL(raw, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
      CAST(LEN(REGEXP_EXTRACT_ALL(raw, '\b10\.[0-9]{1,3}\.0\.1\b')) AS BIGINT) AS n_ips,
      md5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(raw,
        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        '\b10\.[0-9]{1,3}\.0\.1\b', '<IP>', 'g')) AS red_md5,
      CAST(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(raw,
        '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
        '\b10\.[0-9]{1,3}\.0\.1\b', '<IP>', 'g')) AS BIGINT) AS red_len
    FROM raw"""

  /** Unicode NFC canonicalization ([[graft.functions.NfcNormalize]],
    * a codegen'd kernel; SQL `nfc_normalize` matching
    * DuckDB's builtin of the same name). The corpus is ASCII, so like
    * t9 each row gets a deterministic fixture suffix: even doc_ids a
    * DECOMPOSED `cafe` + U+0301 (NFC collapses it, length shrinks by
    * one), odd doc_ids the precomposed `café` (already NFC — the
    * zero-copy fastpath). Verified by md5 of the normalized text plus
    * both lengths; `changed` pins which branch each row took. Zero
    * shuffles, pure per-row codegen. */
  def t10_text_normalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.NfcNormalize
    docs(s, dir)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 2 === 0, lit(" café"))
          .otherwise(lit(" café"))).as("raw"))
      .withColumn("nfc", NfcNormalize(col("raw")))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_raw"),
        length(col("nfc")).cast("long").as("n_nfc"),
        (col("raw") =!= col("nfc")).as("changed"),
        md5(col("nfc").cast("binary")).as("nfc_md5"))
  }

  private val t10Sql = """
    WITH raw AS (
      SELECT doc_id,
        text || CASE WHEN doc_id % 2 = 0
          THEN ' cafe' || chr(769) ELSE ' caf' || chr(233) END AS raw
      FROM documents)
    SELECT doc_id,
      CAST(LENGTH(raw) AS BIGINT) AS n_raw,
      CAST(LENGTH(nfc_normalize(raw)) AS BIGINT) AS n_nfc,
      raw <> nfc_normalize(raw) AS changed,
      md5(nfc_normalize(raw)) AS nfc_md5
    FROM raw"""

  /** BPE pair statistics — the map-reduce core of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016): count adjacent
    * CHARACTER pairs across the corpus, weighting each occurrence by
    * its word's corpus frequency. One such pass ranks the next merge
    * candidate; training loops this primitive, re-running it over the
    * merged symbol sequences. Output: top 50 pairs by weighted count
    * (full deterministic tiebreak: count desc, then the pair), with
    * `in_words` = distinct words containing the pair.
    *
    * Scale story (the reason tokenizer training runs on the cluster,
    * not a driver): shuffle #1 keys by WORD (map-side combined — the
    * reduce side sees the distinct vocabulary, not corpus tokens);
    * the pair explode then runs over DISTINCT WORDS ONLY (vocabulary
    * scale, not corpus scale — each word's pairs are counted once and
    * weighted by its frequency); shuffle #2 keys by (a, b) over
    * alphabet² cardinality, also partially aggregated map-side. No
    * broadcast, no skew surface (a hot pair key is combined per map
    * partition before it ever ships). All codegen'd expressions. */
  def t11_bpe_pairs(s: SparkSession, dir: String): DataFrame = {
    val wc = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("c"))
    wc.filter(length(col("word")) >= 2)
      .select(col("word"), col("c"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> named_struct('a', substring(word, i, 1),
          |                    'b', substring(word, i + 1, 1)))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).cast("long").as("pair_count"),
        countDistinct(col("word")).cast("long").as("in_words"))
      .orderBy(col("pair_count").desc, col("a"), col("b"))
      .limit(50)
  }

  private val t11Sql = """
    WITH wc AS (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents) x
      WHERE t <> '' GROUP BY t),
    p AS (
      SELECT SUBSTR(word, CAST(i AS INT), 1) AS a,
             SUBSTR(word, CAST(i AS INT) + 1, 1) AS b, word, c
      FROM (SELECT word, c, UNNEST(range(1, LENGTH(word))) AS i
            FROM wc WHERE LENGTH(word) >= 2) y)
    SELECT a, b, CAST(SUM(c) AS BIGINT) AS pair_count,
      CAST(COUNT(DISTINCT word) AS BIGINT) AS in_words
    FROM p GROUP BY a, b
    ORDER BY pair_count DESC, a, b
    LIMIT 50"""

  /** Bigram-LM quality scoring — the perplexity-filtering stage of
    * CCNet/Gopher-style curation, restated in EXACT integer
    * arithmetic so the DuckDB oracle matches bit-for-bit: train
    * corpus bigram statistics (context count na, pair count nab),
    * score each bigram occurrence with the integer-quantized
    * conditional probability (nab·10^6) div na, and report each
    * document's mean score (higher = more predictable text; a
    * perplexity filter drops the tails). Real deployments swap the
    * ratio for a log-prob from a trained LM — the transcendental log
    * is the only thing this formulation omits, and it's omitted
    * because engines' libm results aren't bit-portable.
    *
    * Scale story: the count tables come from map-side-combined
    * groupBys over the exploded bigram frame (reduce side sees
    * vocabulary-scale rows); the score joins are plain equi-joins
    * that AQE converts to broadcast when the count tables are small —
    * declared, not hand-scheduled. The exploded frame feeds three
    * consumers, so it's persisted (the d2 gram-table discipline) —
    * one corpus explode, not three. */
  def t12_text_lmscore(s: SparkSession, dir: String): DataFrame = {
    val bi = docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> named_struct('a', w[i-1], 'b', w[i]))")).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = bi.groupBy("a").agg(count(lit(1)).as("na"))
    val pair = bi.groupBy("a", "b").agg(count(lit(1)).as("nab"))
    val scored = bi.join(pair, Seq("a", "b")).join(ctx, Seq("a"))
      .withColumn("score", expr("(nab * 1000000) div na"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("score")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("s div n_bigrams").as("lm"))
    docs(s, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm"), lit(0L)).as("lm_score"))
  }

  private val t12Sql = """
    WITH b AS MATERIALIZED (
      SELECT doc_id, w[i] AS a, w[i+1] AS b
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents) t,
        UNNEST(range(1, LEN(w))) AS u(i)
      WHERE LEN(w) >= 2 AND w[i] <> '' AND w[i+1] <> ''),
    ctx AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS na FROM b GROUP BY a),
    pair AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nab FROM b GROUP BY a, b),
    sc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM((nab * 1000000) // na) AS BIGINT) AS s
      FROM b JOIN pair USING (a, b) JOIN ctx USING (a)
      GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
      COALESCE(sc.s // sc.n_bigrams, 0) AS lm_score
    FROM documents d LEFT JOIN sc USING (doc_id)"""

  /** BPE merge APPLICATION — the other half of byte-pair-encoding
    * tokenization (Sennrich et al. 2016): [[t11_bpe_pairs]] ranks
    * merge candidates; this op applies a FIXED merge table (the top-20
    * character pairs by corpus-weighted count, t11's exact ranking
    * and tiebreak) to re-segment every document, reporting per-doc
    * whitespace-token and BPE-token counts. Application semantics are
    * the reference algorithm's: merges apply in priority order, each
    * exhaustively (leftmost-greedy over overlaps — "aaa" under (a,a)
    * segments [aa, a]); because every table entry pairs two SINGLE
    * characters and merging never creates new single-character
    * symbols, one exhaustive pass per rank in rank order is exactly
    * the priority-queue result (pinned against a priority-queue
    * reference implementation in T13BpeApplySpec).
    *
    * Scale story (the tokenizer-APPLY pass every training pipeline
    * runs over the full corpus): the merge loop runs over the DISTINCT
    * VOCABULARY (each word segmented once, not once per occurrence) as
    * 20 chained `aggregate` higher-order expressions — no UDF, no
    * driver loop over data; the corpus then joins the segmented vocab
    * ONCE — broadcast below [[t13BcastMaxVocab]] types, a shuffled
    * hash join above it (the vocab side is count-gated, the
    * [[graft.pipeline.Dedup.d8FlatMaxK]] dispatch pattern: a clean
    * web corpus keeps Heaps-law vocabularies broadcastable, but a
    * noisy 100-TB crawl is 10⁸+ types and a forced hint would die on
    * driver/broadcast limits instead of degrading to the shuffle
    * plan). The merge table itself is the one driver-side piece:
    * top-M pairs collected as M≈20 rows — the trained-tokenizer
    * artifact every executor needs, the q37 bounds posture
    * (metadata-sized, documented). */
  def t13_bpe_apply(s: SparkSession, dir: String): DataFrame =
    bpeApply(s, dir, 20, "")

  /** Vocab-count cut for t13's corpus⋈vocab join: below it the
    * segmented vocab broadcasts (~40 B/row → ≤80 MB at the cut, well
    * under executor/driver broadcast budgets); above it the join rides
    * a shuffled hash join with the vocab as build side (partitioned,
    * so no single-node table). The cut is a parameter of [[bpeApply]]
    * so T13BpeApplySpec and the PipeFuzz `bpe_apply` family exercise
    * BOTH plan shapes on small corpora. */
  private[graft] val t13BcastMaxVocab = 2000000L

  /** Which side of the [[t13BcastMaxVocab]] dispatch the last
    * [[bpeApply]] took ("bcast" | "shuffle") — data-dependent (the
    * sliced corpus' vocab count), so fuzz runners read it back
    * post-run, the [[graft.pipeline.Dedup.lastSemanticDispatch]]
    * pattern. */
  @volatile private[graft] var lastBpeDispatch: String = ""

  /** Parametric form ([[t13_bpe_apply]] = gate defaults): merge-table
    * size and a corpus slice predicate (the SAME text the oracle
    * renders into its WHERE) — the PipeFuzz entry point.
    * `bcastMaxVocab` moves the broadcast/shuffle cut so both dispatch
    * sides are testable at spec scale; the RESULT is dispatch-
    * invariant (same rows either side), only the join strategy moves. */
  private[graft] def bpeApply(s: SparkSession, dir: String, m: Int,
      whereSql: String, bcastMaxVocab: Long = t13BcastMaxVocab): DataFrame = {
    val d0 = docs(s, dir)
    val d = if (whereSql.isEmpty) d0 else d0.where(whereSql)
    val words = d.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    // The vocabulary is read three times (merge ranking, segmentation
    // join, dispatch count): persist it so the corpus tokenize+groupBy
    // runs once, not three times (the d2-pair-table precedent — the
    // persisted frame is vocabulary-sized, Heaps-law bounded).
    val wc = words.groupBy("word").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nVocab = wc.count()
    lastBpeDispatch = if (nVocab <= bcastMaxVocab) "bcast" else "shuffle"
    val merges: Seq[(String, String)] = wc.filter(length(col("word")) >= 2)
      .select(col("c"), explode(expr(
        """transform(sequence(1, length(word) - 1),
          |  i -> named_struct('a', substring(word, i, 1),
          |                    'b', substring(word, i + 1, 1)))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("c")).as("pc"))
      .orderBy(col("pc").desc, col("a"), col("b"))
      .limit(m).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val seg = bpeSegment(wc, merges).select(col("word"), col("n_syms"))
    // Count-gated join strategy: broadcast under the cut, an explicit
    // shuffled-hash hint above it (vocab as build side — hash-build
    // beats sorting the corpus side, and above the cut Spark's
    // size-based planner would otherwise pick a sort-merge join).
    val segHinted =
      if (nVocab <= bcastMaxVocab) broadcast(seg) else seg.hint("shuffle_hash")
    val agg = words
      .join(segHinted, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"), sum(col("n_syms")).as("nb"))
    d.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nw"), lit(0L)).as("n_words"),
        coalesce(col("nb"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Segment the vocabulary `wc (word, c)` under a fixed ordered merge
    * table → `(word, c, syms, n_syms)`. All merge rounds run in ONE
    * codegen'd JVM pass per word ([[graft.functions.BpeSegment]]) —
    * until r16 this was `m` chained `aggregate` HOF expressions whose
    * accumulator grew by per-element array `concat`: O(len²) small
    * allocations per word per round through interpreted lambdas.
    * Identical semantics (exhaustive leftmost-greedy per rank, ranks in
    * order), pinned against the priority-queue reference in
    * T13BpeApplySpec. */
  private[graft] def bpeSegment(wc: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    wc.select(col("word"), col("c"),
        graft.functions.BpeSegment(col("word"), merges).as("syms"))
      .withColumn("n_syms", size(col("syms")).cast("long"))

  /** DuckDB oracle for [[bpeApply]]: derives the same top-`m` merge
    * table in SQL, then executes the same rank-ordered exhaustive
    * scans as ONE recursive CTE over (word, round, remaining, out) —
    * each recursion step consumes one or two symbols, an empty
    * remainder restarts the next round from the emitted symbols, and
    * round n+1 is the final segmentation ("unrolled merge rounds" as a
    * data-driven recursion, not 20 pasted CTEs). */
  private[graft] def t13SqlFor(m: Int, whereSql: String): String = {
    val corpus =
      if (whereSql.isEmpty) "SELECT * FROM documents"
      else s"SELECT * FROM documents WHERE $whereSql"
    s"""
    WITH RECURSIVE
    corpus AS MATERIALIZED ($corpus),
    wc AS MATERIALIZED (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM corpus) x
      WHERE t <> '' GROUP BY t),
    pr AS (
      SELECT SUBSTR(word, CAST(i AS INT), 1) AS a,
             SUBSTR(word, CAST(i AS INT) + 1, 1) AS b, c
      FROM (SELECT word, c, UNNEST(range(1, LENGTH(word))) AS i
            FROM wc WHERE LENGTH(word) >= 2) y),
    merges AS (
      SELECT a, b, ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, a, b) AS r
      FROM pr GROUP BY a, b
      ORDER BY SUM(c) DESC, a, b LIMIT $m),
    nm AS (SELECT COUNT(*) AS n FROM merges),
    step AS (
      SELECT word, 1 AS r, STRING_SPLIT(word, '') AS rem,
             CAST([] AS VARCHAR[]) AS outp
      FROM wc
      UNION ALL
      SELECT s.word,
        CASE WHEN LEN(s.rem) = 0 THEN s.r + 1 ELSE s.r END,
        CASE WHEN LEN(s.rem) = 0 THEN s.outp
             WHEN LEN(s.rem) >= 2 AND s.rem[1] = m.a AND s.rem[2] = m.b THEN s.rem[3:]
             ELSE s.rem[2:] END,
        CASE WHEN LEN(s.rem) = 0 THEN CAST([] AS VARCHAR[])
             WHEN LEN(s.rem) >= 2 AND s.rem[1] = m.a AND s.rem[2] = m.b
               THEN s.outp || [s.rem[1] || s.rem[2]]
             ELSE s.outp || [s.rem[1]] END
      FROM step s JOIN merges m ON m.r = s.r, nm
      WHERE s.r <= nm.n),
    vocab AS (
      SELECT s.word, CAST(LEN(s.rem) AS BIGINT) AS n_syms
      FROM step s, nm WHERE s.r = nm.n + 1),
    dw AS (
      SELECT doc_id, t AS word
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM corpus) x
      WHERE t <> ''),
    agg AS (
      SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(v.n_syms) AS BIGINT) AS n_bpe
      FROM dw JOIN vocab v USING (word) GROUP BY dw.doc_id)
    SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
           COALESCE(a.n_bpe, 0) AS n_bpe_tokens
    FROM corpus d LEFT JOIN agg a USING (doc_id)"""
  }

  private val t13Sql = t13SqlFor(20, "")

  // --------------------------------- t14 n-gram linear quality classifier

  /** Weight-table size above which the gram⋈weights join rides a
    * shuffled hash join instead of broadcasting the table. A trained
    * fastText-style filter is a few hundred thousand to a few million
    * n-grams — broadcastable; the cut keeps a pathological table from
    * forcing a broadcast the driver can't hold. */
  private[graft] val t14BcastMaxTable = 4000000L

  /** Which side of the [[t14BcastMaxTable]] dispatch the last
    * [[qualityClassify]] took ("bcast" | "shuffle"). */
  @volatile private[graft] var lastQualityDispatch: String = ""

  /** n-gram LINEAR QUALITY CLASSIFIER inference — the fastText-style
    * CCNet/LLaMA pretraining quality filter: score every document as
    * the sum of matched n-gram weights and keep non-negative scores.
    * The weight table here is DERIVED deterministically (the top-`k`
    * corpus unigrams+bigrams by count, count-desc/gram-asc tiebreak,
    * with an integer weight formula over rank and gram length) so the
    * DuckDB oracle reproduces it bit-exactly; a production deployment
    * loads trained weights into the same (gram, w) table and the plan
    * does not change.
    *
    * Scale story (the filter pass every pretraining pipeline runs over
    * the full corpus): one explode of the corpus into unigrams+bigrams
    * (multiplicity preserved — inference counts repeated n-grams), ONE
    * join against the weight table (broadcast under
    * [[t14BcastMaxTable]], shuffled hash above), one map-side-combined
    * groupBy(doc_id). The weight table's rank window runs over at most
    * `k` rows post-limit (TakeOrdered is distributed; the window input
    * is table-sized, never corpus-sized). Integer-exact arithmetic
    * end to end. */
  def t14_quality_classify(s: SparkSession, dir: String): DataFrame =
    qualityClassify(s, dir, 500, "")

  /** Unigram+bigram explode shared by the score join and the weight
    * derivation: raw split on ' ', empty tokens dropped from unigrams
    * and disqualifying bigrams (mirrors the oracle's list pipeline). */
  private def t14Grams(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val uni = toks.select(col("doc_id"), explode(col("ws")).as("g"))
      .filter(col("g") =!= "")
    val big = toks.select(col("doc_id"), explode(expr(
      """filter(
        |  transform(
        |    if(size(ws) >= 2, sequence(1, size(ws) - 1), array()),
        |    i -> if(element_at(ws, i) != '' and element_at(ws, i + 1) != '',
        |            concat(element_at(ws, i), ' ', element_at(ws, i + 1)),
        |            null)),
        |  x -> x is not null)""".stripMargin)).as("g"))
    uni.unionAll(big)
  }

  /** Parametric form ([[t14_quality_classify]] = gate defaults):
    * weight-table size, corpus slice, movable broadcast cut. */
  private[graft] def qualityClassify(s: SparkSession, dir: String, k: Int,
      whereSql: String, bcastMax: Long = t14BcastMaxTable): DataFrame = {
    val d0 = docs(s, dir)
    val d = if (whereSql.isEmpty) d0 else d0.where(whereSql)
    val grams = t14Grams(d)
    // weight table: top-k grams by corpus count (deterministic
    // tiebreak), integer weight from rank and length — rank's window
    // runs over the k-row limited table, not the vocabulary
    val w = Window.orderBy(col("c").desc, col("g"))
    val wt = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g")).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("g"),
        (when(col("rank") % 3 === 0, lit(1L)).otherwise(lit(-1L)) *
          ((length(col("g")).cast("long") * 7 + col("rank")) % 23 + 1)).as("w"))
    lastQualityDispatch = if (k <= bcastMax) "bcast" else "shuffle"
    val wtHinted = if (k <= bcastMax) broadcast(wt) else wt.hint("shuffle_hash")
    val sc = grams.join(wtHinted, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nm"), sum(col("w")).as("s"))
    d.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nm"), lit(0L)).as("n_matched"),
        coalesce(col("s"), lit(0L)).as("quality_score"),
        (coalesce(col("s"), lit(0L)) >= 0).as("keep"))
  }

  private[graft] def t14SqlFor(k: Int, whereSql: String): String = {
    val corpus =
      if (whereSql.isEmpty) "SELECT * FROM documents"
      else s"SELECT * FROM documents WHERE $whereSql"
    s"""
    WITH corpus AS ($corpus),
    toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM corpus),
    uni AS (SELECT doc_id, UNNEST(ws) AS g FROM toks),
    big AS (SELECT doc_id, UNNEST(list_filter(list_transform(
        range(1, len(ws)),
        i -> CASE WHEN ws[i] <> '' AND ws[i + 1] <> ''
                  THEN ws[i] || ' ' || ws[i + 1] END),
        x -> x IS NOT NULL)) AS g FROM toks),
    grams AS (SELECT doc_id, g FROM uni WHERE g <> ''
              UNION ALL SELECT doc_id, g FROM big),
    wc AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g),
    top AS (SELECT g, ROW_NUMBER() OVER (ORDER BY c DESC, g) AS rank
            FROM wc ORDER BY c DESC, g LIMIT $k),
    wt AS (SELECT g,
        (CASE WHEN rank % 3 = 0 THEN 1 ELSE -1 END)
          * ((LENGTH(g) * 7 + rank) % 23 + 1) AS w FROM top),
    sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
        CAST(SUM(w) AS BIGINT) AS quality_score
      FROM grams JOIN wt USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
      COALESCE(sc.n_matched, 0) AS n_matched,
      COALESCE(sc.quality_score, 0) AS quality_score,
      COALESCE(sc.quality_score, 0) >= 0 AS keep
    FROM corpus d LEFT JOIN sc USING (doc_id)"""
  }
  private val t14Sql = t14SqlFor(500, "")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t14_quality_classify" -> (t14_quality_classify _),
    "t13_bpe_apply" -> (t13_bpe_apply _),
    "t12_text_lmscore" -> (t12_text_lmscore _),
    "t11_bpe_pairs" -> (t11_bpe_pairs _),
    "t10_text_normalize" -> (t10_text_normalize _),
    "t1_text_tokens" -> (t1_text_tokens _),
    "t2_text_quality" -> (t2_text_quality _),
    "t3_text_langid" -> (t3_text_langid _),
    "t4_text_fingerprint" -> (t4_text_fingerprint _),
    "t5_text_clean" -> (t5_text_clean _),
    "t6_text_repetition" -> (t6_text_repetition _),
    "t7_text_pmi" -> (t7_text_pmi _),
    "t8_text_heavyhitters" -> (t8_text_heavyhitters _),
    "t9_text_pii" -> (t9_text_pii _))

  val oracle: Map[String, String] = Map(
    "t14_quality_classify" -> t14Sql,
    "t13_bpe_apply" -> t13Sql,
    "t12_text_lmscore" -> t12Sql,
    "t11_bpe_pairs" -> t11Sql,
    "t10_text_normalize" -> t10Sql,
    "t1_text_tokens" -> t1Sql,
    "t2_text_quality" -> t2Sql,
    "t3_text_langid" -> t3Sql,
    "t4_text_fingerprint" -> t4Sql,
    "t5_text_clean" -> t5Sql,
    "t6_text_repetition" -> t6Sql,
    "t7_text_pmi" -> t7Sql,
    "t8_text_heavyhitters" -> t8Sql,
    "t9_text_pii" -> t9Sql)
}

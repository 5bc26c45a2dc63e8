package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.{shinglesOfTokens, tokens}

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, fingerprinting — the
  * building blocks of a training-data curation pipeline. All stay in
  * whole-stage codegen (built-in functions only).
  */
object TextQueries {

  /** Token/char statistics per document. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        col("n_chars"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |  n_chars,
      |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_distinct
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length, mean token length, type-token ratio,
    * stopword ratio — the heuristics a pretraining pipeline uses to
    * filter low-quality text. All ratios are double divisions of exact
    * integers (deterministic). */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t).cast("long")
    val stop = size(filter(t, w => w.isin("the", "a", "of", "and", "to", "in")))
      .cast("long")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), nTok.as("n_tokens"),
        (col("n_chars").cast("double") / nTok).as("mean_tok_len"),
        (size(array_distinct(t)).cast("double") / nTok).as("ttr"),
        (stop.cast("double") / nTok).as("stop_ratio"))
      .withColumn("keep",
        (col("n_tokens") >= 10 && col("ttr") >= 0.2 && col("stop_ratio") <= 0.5)
          .cast("boolean"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    """SELECT doc_id, n_chars, n_tokens,
      |  CAST(n_chars AS DOUBLE) / n_tokens AS mean_tok_len,
      |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  (n_tokens >= 10 AND CAST(n_distinct AS DOUBLE)/n_tokens >= 0.2
      |    AND CAST(n_stop AS DOUBLE)/n_tokens <= 0.5) AS keep
      |FROM (
      |  SELECT doc_id, n_chars,
      |    CAST(len(w) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in'))) AS BIGINT) AS n_stop
      |  FROM (SELECT doc_id, n_chars, string_split_regex(trim(text), '\s+') AS w FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: score each candidate language by marker-word
    * hits, pick argmax with a fixed precedence order. (A real system
    * uses char n-gram profiles; the scoring skeleton is identical and
    * the oracle reproduces this heuristic exactly.) */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(col("text")))
    def hits(ws: String*): Column =
      size(filter(t, w => w.isin(ws.map(lit): _*))).cast("long")
    val en = hits("the", "a", "of", "and", "is")
    val fr = hits("le", "la", "et", "les", "des")
    val es = hits("el", "los", "las", "y", "que")
    val de = hits("der", "die", "das", "und", "ist")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        en.as("s_en"), fr.as("s_fr"), es.as("s_es"), de.as("s_de"))
      .withColumn("lang_pred",
        when(col("s_en") >= greatest(col("s_fr"), col("s_es"), col("s_de")) &&
          col("s_en") > 0, "en")
          .when(col("s_fr") >= greatest(col("s_es"), col("s_de")) &&
            col("s_fr") > 0, "fr")
          .when(col("s_es") >= col("s_de") && col("s_es") > 0, "es")
          .when(col("s_de") > 0, "de")
          .otherwise("unk"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String =
    """SELECT doc_id, lang, s_en, s_fr, s_es, s_de,
      |  CASE WHEN s_en >= greatest(s_fr, s_es, s_de) AND s_en > 0 THEN 'en'
      |       WHEN s_fr >= greatest(s_es, s_de) AND s_fr > 0 THEN 'fr'
      |       WHEN s_es >= s_de AND s_es > 0 THEN 'es'
      |       WHEN s_de > 0 THEN 'de'
      |       ELSE 'unk' END AS lang_pred
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
      |    CAST(len(list_filter(w, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS s_fr,
      |    CAST(len(list_filter(w, x -> x IN ('el','los','las','y','que'))) AS BIGINT) AS s_es,
      |    CAST(len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS w FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Order-insensitive document fingerprint: md5 over the sorted
    * distinct token set — catches shuffled/reordered duplicates that
    * exact-hash dedup misses. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat_ws(" ",
          sort_array(array_distinct(tokens(col("text"))))).cast("binary"))
          .as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("fp"))

  val fingerprintSql: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fp,
      |  COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Top-3 words per source (frequency ranking within group). */
  def topWordsPerSource(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, dir)
      .select(col("source"),
        explode(graft.functions.GraftFunctions.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("word"))
    words.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("source"), col("word"), col("n"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("source"), col("rn"))
  }

  val topWordsPerSourceSql: String =
    """SELECT source, word, n, CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT source, word, n,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, word) AS rn
      |  FROM (
      |    SELECT source, word, COUNT(*) AS n FROM (
      |      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |      FROM documents)
      |    WHERE length(word) > 0 GROUP BY source, word))
      |WHERE rn <= 3 ORDER BY source, rn""".stripMargin

  /** Subword-ish token counting (the budgeting view a training
    * pipeline runs before tokenizing for real): a GPT-2-style
    * pre-tokenizer regex — letter runs | digit runs | punctuation
    * runs — counted against whitespace tokens. ASCII character
    * classes keep the pattern identical under Java and RE2 regex
    * dialects, so the count is engine-independent. Pure narrow
    * projection: no shuffle except the output sort. */
  def tokenCountBpe(s: SparkSession, dir: String): DataFrame = {
    val bpe = regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(bpe).cast("long").as("n_bpe_tokens"))
      .withColumn("subtoken_ratio",
        when(col("n_ws_tokens") > 0,
          col("n_bpe_tokens").cast("double") /
            col("n_ws_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  val tokenCountBpeSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
      |  CASE WHEN len(string_split_regex(trim(text), '\s+')) > 0
      |    THEN CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS DOUBLE)
      |      / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
      |    ELSE 0.0 END AS subtoken_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** TF-IDF-flavored top terms per document: term frequency within
    * the doc against document frequency across the corpus, ranked by
    * tf/df. The ratio replaces the usual tf·log(N/df): same ranking
    * for fixed N, and IEEE division of two exact integers is
    * correctly rounded in every engine, where `log` implementations
    * differ in the last ulp. Output is pure integers (tf, df, rank)
    * — no float ever leaves the query.
    *
    * Scale: tf is one shuffle on (doc, word); df aggregates the tf
    * frame (word shuffle, already tiny); the ranking window shuffles
    * on doc_id. No scan is repeated.
    *
    * The token-scale tf frame is persisted and NOT released here: the
    * caller owns the cache and must `clearCache`/unpersist after the
    * result is consumed (Bench and Verify do, per query), as with
    * [[DedupQueries.docShingleArrays]]. */
  def tfidfTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // CACHED: tf feeds two consumers (the ranking join's left side and
    // the df aggregate), and the optimizer prunes the count from the
    // df branch — the two subtrees stop canonicalizing equal, so
    // ReuseExchange never fires and the corpus was scanned, tokenized
    // and shuffled on (doc_id, word) TWICE (plan audit
    // plans/r18/t_tfidf_topk_sf10_before.txt: two full
    // FileScan+explode+Exchange subtrees). Caching computes the
    // token-scale pass once; measured 0.85x warm at sf10, 3/3
    // interleaved rounds (OPTIMIZATION_r18.md §1). Harness-scoped like
    // [[DedupQueries.docShingleArrays]]: Bench/Verify clear caches per
    // query; at 100 TB the tf table is the standard materialized
    // intermediate.
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy((col("tf").cast("double") / col("df").cast("double")).desc,
        col("word"))
    tf.join(df, "word")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val tfidfTopKSql: String =
    """SELECT doc_id, word, tf, df, CAST(rnk AS BIGINT) AS rnk FROM (
      |  SELECT doc_id, word, tf, df,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) DESC, word) AS rnk
      |  FROM (
      |    SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM (
      |      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |      FROM documents)
      |    WHERE length(word) > 0 GROUP BY doc_id, word) tf
      |  JOIN (
      |    SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM (
      |      SELECT DISTINCT doc_id, word FROM (
      |        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |        FROM documents)
      |      WHERE length(word) > 0)
      |    GROUP BY word) df USING (word))
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** The first BPE merge decision — the tokenizer-TRAINING kernel:
    * aggregate the corpus to a word-frequency table, extract every
    * adjacent character pair per distinct word, weight by word count,
    * and rank. Top pair = the symbol merge a BPE trainer would apply
    * first; iterating this (with pair substitution) trains the vocab.
    *
    * Scale: the classic trainer shape — the corpus collapses to the
    * vocabulary FIRST (one word shuffle; vocab ≪ corpus by Heaps'
    * law), and all pair work runs on the vocab table, so the pair
    * explode fans out over distinct words, not corpus tokens. The
    * final top-20 is a 2-column aggregate ordered with a unique
    * tie-break. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
    words
      .filter(length(col("word")) > 1)
      .select(col("wn"), explode(expr(
        "transform(sequence(1, char_length(word) - 1)," +
          " i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  val bpePairsSql: String =
    """WITH wf AS (
      |  SELECT w AS word, COUNT(*) AS wn
      |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
      |        FROM documents)
      |  GROUP BY 1),
      |p AS (
      |  SELECT unnest(list_transform(range(1, len(word)),
      |                               i -> word[i:i+1])) AS pair, wn
      |  FROM wf WHERE len(word) > 1)
      |SELECT pair, CAST(SUM(wn) AS BIGINT) AS n
      |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  /** PII patterns a pretraining scrubber redacts: e-mail, NNN-NNNN
    * phone, dotted-quad IP. Plain character-class regexes so Java
    * (Spark) and RE2 (DuckDB) match identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"
  val IpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Redact all three PII classes in a text column (global replace;
    * e-mail first so its digits can't be half-eaten as a phone). */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        IpRe, "<IP>"),
      PhoneRe, "<PHONE>")

  /** PII scrubbing with per-document redaction counts. The synthetic
    * corpus has no natural PII, so the query deterministically plants
    * a contact line derived from doc_id (identical expression on the
    * oracle side), then scrubs it — exercising global-replace
    * semantics end to end. [[scrubPii]] is the reusable operator; the
    * md5 of the scrubbed text keeps the checked output narrow. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"),
      lit("@example.com or 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" at 10."), col("doc_id") % 200,
      lit("."), col("doc_id") % 250,
      lit("."), col("doc_id") % 100)
    Tables.documents(s, dir)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0)))
          .cast("long").as("n_phone"),
        size(regexp_extract_all(col("aug"), lit(IpRe), lit(0)))
          .cast("long").as("n_ip"),
        md5(scrubPii(col("aug"))).as("scrub_md5"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH a AS (
      |  SELECT doc_id,
      |         text || ' contact user' || doc_id || '@example.com or 555-'
      |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |           || ' at 10.' || (doc_id % 200) || '.' || (doc_id % 250)
      |           || '.' || (doc_id % 100) AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(aug, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(aug, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ip,
      |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
      |        '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_md5
      |FROM a ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition rules (Rae et al. 2021, table A1): per
    * document, the fraction of characters covered by the dominant
    * {2,3,4}-gram and by duplicated (count ≥ 2) {5,6}-grams, plus the
    * paper's reject flag at its published thresholds
    * (0.20/0.18/0.16 top, 0.15/0.14 dup). "Dominant" is
    * max(count × chars) — a deterministic tie-break the paper leaves
    * unspecified.
    *
    * Scale: every statistic is a within-document property, so the
    * whole operator is ONE per-row native kernel
    * ([[graft.functions.HashImpl.gopherStats]]) inside a single
    * corpus scan — zero shuffles, zero joins, no gram explode; the
    * only exchange is the output ordering. The equivalent built-in
    * pipeline (5-width shingle explode → count per (doc, n, gram) →
    * max/sum per (doc, n)) shuffles gram text twice and benched 4×
    * slower at sf0.1. Fractions are single IEEE divisions of exact
    * integer counts, so doubles hash-match bit-exactly. */
  def gopherNgram(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.gopherStats
    def frac(c: Column): Column =
      c.cast("double") / col("n_chars").cast("double")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(trim(col("text"))).cast("long").as("n_chars"),
        tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("n_chars"),
        gopherStats(col("toks")).as("gs"))
      .select(col("doc_id"),
        frac(element_at(col("gs"), 1)).as("top2_frac"),
        frac(element_at(col("gs"), 2)).as("top3_frac"),
        frac(element_at(col("gs"), 3)).as("top4_frac"),
        frac(element_at(col("gs"), 4)).as("dup5_frac"),
        frac(element_at(col("gs"), 5)).as("dup6_frac"))
      .withColumn("flagged",
        col("top2_frac") > 0.20 || col("top3_frac") > 0.18 ||
        col("top4_frac") > 0.16 || col("dup5_frac") > 0.15 ||
        col("dup6_frac") > 0.14)
      .orderBy(col("doc_id"))
  }

  val gopherNgramSql: String = {
    // one SELECT per shingle width, mirroring shinglesOfTokens
    val gramSelects = (2 to 6).map { n =>
      val parts = (0 until n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
      s"""    SELECT doc_id, n_chars, $n AS n,
         |      unnest(list_transform(range(1, greatest(len(w) - ${n - 2}, 1)),
         |        i -> $parts)) AS gram
         |    FROM toks""".stripMargin
    }.mkString("\n    UNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chars,
       |         string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |grams AS (
       |$gramSelects),
       |per_doc_n AS (
       |  SELECT doc_id, n_chars, n,
       |    MAX(chars) AS top_chars,
       |    SUM(CASE WHEN c >= 2 THEN chars END) AS dup_chars
       |  FROM (
       |    SELECT doc_id, n_chars, n, gram, COUNT(*) AS c,
       |      COUNT(*) * CAST(length(gram) AS BIGINT) AS chars
       |    FROM grams GROUP BY doc_id, n_chars, n, gram)
       |  GROUP BY doc_id, n_chars, n),
       |wide AS (
       |  SELECT doc_id, n_chars,
       |    MAX(CASE WHEN n = 2 THEN top_chars END) AS t2,
       |    MAX(CASE WHEN n = 3 THEN top_chars END) AS t3,
       |    MAX(CASE WHEN n = 4 THEN top_chars END) AS t4,
       |    MAX(CASE WHEN n = 5 THEN dup_chars END) AS d5,
       |    MAX(CASE WHEN n = 6 THEN dup_chars END) AS d6
       |  FROM per_doc_n GROUP BY doc_id, n_chars)
       |SELECT doc_id,
       |  CAST(COALESCE(t2, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS top2_frac,
       |  CAST(COALESCE(t3, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS top3_frac,
       |  CAST(COALESCE(t4, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS top4_frac,
       |  CAST(COALESCE(d5, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS dup5_frac,
       |  CAST(COALESCE(d6, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) AS dup6_frac,
       |  (CAST(COALESCE(t2, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.20
       |   OR CAST(COALESCE(t3, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.18
       |   OR CAST(COALESCE(t4, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.16
       |   OR CAST(COALESCE(d5, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.15
       |   OR CAST(COALESCE(d6, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.14) AS flagged
       |FROM wide ORDER BY doc_id""".stripMargin
  }

  /** Bigram language-model quality score (the CCNet/KenLM filter
    * shape): train add-½-smoothed bigram log-probs on the corpus
    * itself, then score each document by mean bigram log-prob —
    * low-probability (garbled / off-distribution) documents rank at
    * the bottom.
    *
    * Cross-engine exactness: ln() may differ from DuckDB's libm in
    * the last ulp, so each bigram's log-prob is snapped to a fixed
    * point grid FIRST — floor(10⁶·ln p) as BIGINT — making the
    * per-document aggregation an exact integer sum (order-free); the
    * reported mean is then a single IEEE division. A ulp flip could
    * only matter on an exact floor boundary (~10⁻⁹ probability per
    * distinct bigram).
    *
    * Scale: counts collapse the corpus to the vocab/bigram tables
    * first (map-side partial aggs); the score pass joins corpus
    * bigram occurrences to the bigram-count table co-partitioned on
    * the bigram key — one sort-merge join that scales linearly. At
    * 100 TB pass `topK` (e.g. 262144): the model state
    * caps at K bigrams + K unigrams, both BROADCAST, tail bigrams
    * back off to the smoothed zero-count estimate from the unigram
    * table — scoring becomes map-only up to the final per-doc sum
    * (the standard KenLM/CCNet pruned-model shape). `topK` <= 0 (the
    * default) keeps the exact full-table join (the oracle form). */
  def lmPerplexity(s: SparkSession, dir: String, topK: Int = 0): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // bigram occurrences keyed by the space-joined gram "w1 w2"
    val bg = docs.select(col("doc_id"),
        explode(shinglesOfTokens(col("toks"), 2)).as("g"))
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = bg.groupBy(col("g")).agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    if (topK > 0) {
      // Pruned model: K highest-count bigrams with their exact lp
      // (TakeOrdered — no full sort), K highest-count unigrams for
      // the backoff's c1 (tail words → c1 = 0). Both K-bounded →
      // collected as MODEL STATE and broadcast (the MLlib pattern,
      // same as the centroid operators), then scoring is ONE narrow
      // mapPartitions pass per document — no re-explosion of the
      // bigram stream, no scoring-side shuffle at all. The per-doc
      // sum is the same order-free integer sum as the exact form, so
      // pruned == exact whenever K covers the corpus (spec-pinned).
      //
      // All three model tables (bigram lp, unigram backoff, vocab
      // size) come back in ONE tagged-union collect — one driver job
      // instead of three, and the unigram aggregation exchange inside
      // it is planned once and wired to all three consumers (the lp
      // join, the backoff TakeOrdered, the vocab count) by Spark's
      // ReuseExchange. docs is persisted only for that job's two
      // tokenized-corpus branches and released immediately after:
      // the scoring pass reads the corpus exactly ONCE downstream,
      // and caching a single further read buys nothing — the lazy
      // re-tokenize costs less than the r10 shape's eager
      // localCheckpoint write + read of the score frame.
      docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bigTop = big.orderBy(col("c2").desc, col("g")).limit(topK)
      val lpTop = broadcast(bigTop).join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(broadcast(vocab))
        .select(lit("b").as("t"), col("g").as("k"),
          floor(lit(1000000.0) *
            log((col("c2").cast("double") + 0.5) /
              (col("c1").cast("double") + lit(0.5) * col("v").cast("double"))))
            .as("x"))
      val uniTop = uni.orderBy(col("c1").desc, col("w")).limit(topK)
        .select(lit("u").as("t"), col("w").as("k"), col("c1").as("x"))
      val vRow = vocab.select(lit("v").as("t"), lit("").as("k"),
        col("v").as("x"))
      val model = lpTop.unionAll(uniTop).unionAll(vRow).collect()
      docs.unpersist(blocking = false)
      val vTotal = model.find(_.getString(0) == "v").get.getLong(2)
      import s.implicits._
      // The K-bounded model rows go back in as LITERAL local relations
      // (not the plans that produced them — re-deriving those in the
      // scoring query exploded the tree) and the scoring pass is pure
      // builtin SQL: bigram explode → two BROADCAST joins (model hit,
      // unigram backoff) → per-doc integer sum, all whole-stage
      // codegen, no scoring-side shuffle before the final per-doc
      // aggregation. (An earlier typed-mapPartitions form deserialized
      // every token array into Scala objects — the lambda tax was the
      // pruned path's whole deficit vs the exact form.)
      val lpDf = model.iterator.filter(_.getString(0) == "b")
        .map(r => (r.getString(1), r.getLong(2))).toSeq.toDF("g", "lp")
      val uniDf = model.iterator.filter(_.getString(0) == "u")
        .map(r => (r.getString(1), r.getLong(2))).toSeq.toDF("w1", "c1t")
      // tail-bigram backoff: floor(1e6·ln(0.5 / (c1 + 0.5·V))) — same
      // java.lang.Math.log/floor the driver form computed, evaluated
      // by codegen per tail row
      bg.withColumn("w1", substring_index(col("g"), " ", 1))
        .join(broadcast(lpDf), Seq("g"), "left")
        .join(broadcast(uniDf), Seq("w1"), "left")
        .select(col("doc_id"),
          coalesce(col("lp"),
            floor(lit(1000000.0) *
              log(lit(0.5) /
                (coalesce(col("c1t"), lit(0L)).cast("double") +
                  lit(0.5) * vTotal.toDouble)))).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_lp"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_lp").cast("double") /
            (col("n_bigrams").cast("double") * 1000000.0)).as("avg_logp"))
        .orderBy(col("doc_id"))
    } else {
      val lp = big.join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(broadcast(vocab))
        .select(col("g"),
          floor(lit(1000000.0) *
            log((col("c2").cast("double") + 0.5) /
              (col("c1").cast("double") + lit(0.5) * col("v").cast("double"))))
            .as("lp_scaled"))
      bg.join(lp, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_scaled")).as("s"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("s").cast("double") /
            (col("n_bigrams").cast("double") * 1000000.0)).as("avg_logp"))
        .orderBy(col("doc_id"))
    }
  }

  val lmPerplexitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w), 1)),
      |    i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM toks),
      |uni AS (
      |  SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
      |    SELECT unnest(w) AS w1 FROM toks) GROUP BY 1),
      |vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
      |big AS (
      |  SELECT g, CAST(COUNT(*) AS BIGINT) AS c2,
      |    split_part(g, ' ', 1) AS w1
      |  FROM bg GROUP BY g),
      |lp AS (
      |  SELECT g,
      |    CAST(floor(1000000.0 *
      |      ln((CAST(c2 AS DOUBLE) + 0.5) /
      |          (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))) AS BIGINT)
      |      AS lp_scaled
      |  FROM big JOIN uni ON uni.w = big.w1 CROSS JOIN vocab)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(lp_scaled) AS DOUBLE) /
      |    (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_logp
      |FROM bg JOIN lp USING (g)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Naive-Bayes document-quality classifier (the CCNet / fastText
    * filter shape, Wenzek et al. 2020): fit per-word binary log-odds
    * against a "curated" target class (every 5th source index — the
    * same target split as [[CurationQueries.dsirWeights]]), add-1
    * smoothed over the exact vocabulary, plus the class-prior
    * log-odds; a document's score is the sum of its token
    * occurrences' log-odds, predicted target-like iff
    * score + prior > 0. Differs from DSIR (hashed 1024-bucket
    * importance RATIO for resampling) in being an exact-vocabulary
    * CLASSIFIER with a prior and a decision.
    *
    * Cross-engine exactness: per-word and prior log-odds snap to the
    * fixed-point grid (floor(10⁶·Δln) as BIGINT) so the per-doc
    * aggregation is an exact order-free integer sum — the
    * [[lmPerplexity]] contract.
    *
    * Scale: the corpus collapses to the word-count table first
    * (map-side partial aggs); scoring joins the token stream to that
    * table on the word key — linear, one co-partitioned join, same
    * shape as [[lmPerplexity]]. At 100 TB pass `topK`:
    * the weight table is top-K-pruned (rare words carry ≈0 evidence
    * under add-1 smoothing) and broadcast, tail words take the
    * zero-count backoff weight. `topK` <= 0 (the default) = exact
    * full-vocab join (the oracle form). */
  def qualityClassifier(s: SparkSession, dir: String, topK: Int = 0): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        (substring(col("source"), 4, 10).cast("int") % 5 === 0).as("tgt"),
        tokens(col("text")).as("toks"))
    val toks = docs.select(col("doc_id"), col("tgt"),
      explode(col("toks")).as("w"))
    val counts = toks.groupBy(col("w"))
      .agg(count(when(col("tgt"), 1)).as("c_t"),
        count(when(!col("tgt"), 1)).as("c_o"))
    val totals = counts.agg(sum(col("c_t")).as("nt"),
      sum(col("c_o")).as("no"), count(lit(1)).as("v"))
    val prior = docs.agg(
      floor(lit(1000000.0) *
        log(count(when(col("tgt"), 1)).cast("double") /
          count(when(!col("tgt"), 1)).cast("double"))).as("prior_scaled"))
    def weight(ct: Column, co: Column): Column =
      floor(lit(1000000.0) *
        (log((ct.cast("double") + 1.0) /
            (col("nt") + col("v")).cast("double")) -
         log((co.cast("double") + 1.0) /
            (col("no") + col("v")).cast("double"))))
    if (topK > 0) {
      // Scale path (`topK` > 0): keep the K
      // highest-evidence words (by total count — under add-1
      // smoothing, tail words carry ≈0 log-odds), collect the
      // K-bounded weight table as model state, broadcast it, and
      // score each document in ONE narrow mapPartitions pass (tail
      // words take the zero-count backoff weight) — no token
      // re-explosion, no scoring-side shuffle. Integer sums, so
      // pruned == exact whenever K covers the vocab (spec-pinned).
      //
      // The whole model (K weight rows, the three corpus totals, the
      // prior) comes back in ONE tagged-union collect — one driver job
      // instead of three, with the word-count aggregation exchange
      // planned once and reused across the weight-table and totals
      // branches. docs is persisted only for that job and released
      // immediately: the scoring pass reads the corpus exactly ONCE
      // downstream, so the lazy re-tokenize beats the r10 shape's
      // localCheckpoint write + read (same reasoning as the pruned-LM
      // path above).
      docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wTop = counts
        .orderBy((col("c_t") + col("c_o")).desc, col("w")).limit(topK)
        .crossJoin(broadcast(totals))
        .select(lit("w").as("t"), col("w").as("k"),
          weight(col("c_t"), col("c_o")).as("x"))
      val totRows = totals.select(lit("t").as("t"), lit("").as("k"),
          col("nt").as("x"))
        .unionAll(totals.select(lit("o"), lit(""), col("no")))
        .unionAll(totals.select(lit("v"), lit(""), col("v")))
      val priorRow = prior.select(lit("p").as("t"), lit("").as("k"),
        col("prior_scaled").as("x"))
      val model = wTop.unionAll(totRows).unionAll(priorRow).collect()
      docs.unpersist(blocking = false)
      def scalar(tag: String): Long =
        model.find(_.getString(0) == tag).get.getLong(2)
      val (nt, no, v) = (scalar("t"), scalar("o"), scalar("v"))
      val backoff = math.floor(1000000.0 *
        (math.log(1.0 / (nt + v).toDouble) -
          math.log(1.0 / (no + v).toDouble))).toLong
      val priorScaled = scalar("p")
      import s.implicits._
      // LITERAL local relation + pure-builtin scoring (broadcast hash
      // join, per-doc integer sum, whole-stage codegen) — same move as
      // the pruned-LM path above, for the same reason: the typed
      // mapPartitions form paid a token-array deserialization per doc
      // that erased the pruned model's advantage
      val wDf = model.iterator.filter(_.getString(0) == "w")
        .map(r => (r.getString(1), r.getLong(2))).toSeq.toDF("w", "ws")
      toks.select(col("doc_id"), col("w"))
        .join(broadcast(wDf), Seq("w"), "left")
        .select(col("doc_id"),
          coalesce(col("ws"), lit(backoff)).as("ws"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("ws")).as("sw"))
        .select(col("doc_id"), col("n_tokens"),
          ((col("sw") + priorScaled).cast("double") / 1000000.0)
            .as("log_odds"))
        .withColumn("pred_target", col("log_odds") > 0.0)
        .orderBy(col("doc_id"))
    } else {
      // CACHED: in the exact branch the vocab-scale counts frame
      // (~3.1k rows at sf10) is consumed twice — by the broadcast
      // totals subquery and by the weight projection — and each
      // consumer re-derived it with a full corpus-scale
      // tokenize+explode+shuffle pass (plan audit
      // plans/r18/t_quality_classifier_sf10_before.txt). Caching the
      // tiny aggregate drops one token-scale pass; measured 0.92x at
      // sf10, 3/3 interleaved rounds (OPTIMIZATION_r18.md §2). Scoped to
      // this branch only: the pruned branch already funnels counts
      // into ONE tagged-union model job whose exchange is planned
      // once. Harness-scoped cache, cleared by Bench/Verify per query.
      // persist returns `counts` itself, and `totals` then reads the
      // cached relation through the CacheManager
      counts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val w = counts.crossJoin(broadcast(totals))
        .select(col("w"), weight(col("c_t"), col("c_o")).as("w_scaled"))
      toks.join(w, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("w_scaled")).as("sw"))
        .crossJoin(broadcast(prior))
        .select(col("doc_id"), col("n_tokens"),
          ((col("sw") + col("prior_scaled")).cast("double") / 1000000.0)
            .as("log_odds"))
        .withColumn("pred_target", col("log_odds") > 0.0)
        .orderBy(col("doc_id"))
    }
  }

  val qualityClassifierSql: String =
    """WITH docs AS (
      |  SELECT doc_id, (CAST(substr(source, 4) AS INT) % 5 = 0) AS tgt,
      |         string_split_regex(trim(text), '\s+') AS w
      |  FROM documents),
      |toks AS (SELECT doc_id, tgt, unnest(w) AS w FROM docs),
      |counts AS (
      |  SELECT w, CAST(COUNT(CASE WHEN tgt THEN 1 END) AS BIGINT) AS c_t,
      |         CAST(COUNT(CASE WHEN NOT tgt THEN 1 END) AS BIGINT) AS c_o
      |  FROM toks GROUP BY w),
      |totals AS (
      |  SELECT CAST(SUM(c_t) AS BIGINT) AS nt, CAST(SUM(c_o) AS BIGINT) AS no,
      |         CAST(COUNT(*) AS BIGINT) AS v
      |  FROM counts),
      |prior AS (
      |  SELECT CAST(floor(1000000.0 *
      |    ln(CAST(COUNT(CASE WHEN tgt THEN 1 END) AS DOUBLE) /
      |       CAST(COUNT(CASE WHEN NOT tgt THEN 1 END) AS DOUBLE))) AS BIGINT)
      |    AS prior_scaled
      |  FROM docs),
      |wt AS (
      |  SELECT w,
      |    CAST(floor(1000000.0 *
      |      (ln((CAST(c_t AS DOUBLE) + 1.0) / CAST(nt + v AS DOUBLE)) -
      |       ln((CAST(c_o AS DOUBLE) + 1.0) / CAST(no + v AS DOUBLE))))
      |      AS BIGINT) AS w_scaled
      |  FROM counts CROSS JOIN totals)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(w_scaled) + MAX(prior_scaled) AS DOUBLE) / 1000000.0
      |    AS log_odds,
      |  (CAST(SUM(w_scaled) + MAX(prior_scaled) AS DOUBLE) / 1000000.0 > 0.0)
      |    AS pred_target
      |FROM toks JOIN wt USING (w) CROSS JOIN prior
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_quality_classifier" -> ((s, d) => qualityClassifier(s, d)),
    "t_gopher_ngram" -> (gopherNgram _),
    "t_lm_perplexity" -> ((s, d) => lmPerplexity(s, d)),
    "t_tfidf_topk" -> (tfidfTopK _),
    "t_token_count_bpe" -> (tokenCountBpe _),
    "t_token_stats" -> (tokenStats _),
    "t_quality_score" -> (qualityScore _),
    "t_langid" -> (langId _),
    "t_fingerprint" -> (fingerprint _),
    "t_top_words_per_source" -> (topWordsPerSource _),
    "t_bpe_pairs" -> (bpePairs _),
    "t_pii_scrub" -> (piiScrub _))

  val oracles: Map[String, String] = Map(
    "t_quality_classifier" -> qualityClassifierSql,
    "t_gopher_ngram" -> gopherNgramSql,
    "t_lm_perplexity" -> lmPerplexitySql,
    "t_tfidf_topk" -> tfidfTopKSql,
    "t_token_count_bpe" -> tokenCountBpeSql,
    "t_token_stats" -> tokenStatsSql,
    "t_quality_score" -> qualityScoreSql,
    "t_langid" -> langIdSql,
    "t_fingerprint" -> fingerprintSql,
    "t_top_words_per_source" -> topWordsPerSourceSql,
    "t_bpe_pairs" -> bpePairsSql,
    "t_pii_scrub" -> piiScrubSql)
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextKernels.{tokens, tokensSql}
import graft.tools.{LogState, StateCache}
import graft.tools.Stage._

/** Text-analysis operators over the `documents` table — the LLM-data-
  * pipeline surface mandated by BASELINE.json's north star (language ID,
  * quality scoring, token counting, fingerprinting, n-grams).
  *
  * Everything here is built from codegen'd built-ins (`split`,
  * `regexp_extract_all`, higher-order array functions) — no UDFs — so the
  * whole pipeline stays inside WholeStageCodegen and scales embarrassingly:
  * every operator is per-row until the final aggregation, which shuffles
  * O(distinct tokens), not O(rows).
  */
object TextAnalysis {

  // ---------------------------------------------------------------------

  /** Corpus word count: tokenize → explode → hash agg. The classic
    * first-shuffle-is-the-only-shuffle plan: token counts partial-aggregate
    * map-side, so the shuffle carries O(vocab) rows per partition. */
  def wordCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))

  val wordCountSql: String =
    s"""SELECT token, COUNT(*) AS n
       |FROM (SELECT unnest($tokensSql) AS token FROM documents)
       |GROUP BY token
       |ORDER BY n DESC, token""".stripMargin

  /** Per-document stats: regex token count (BPE-ish `[a-z0-9]+` word
    * pieces), char length, whitespace token count. */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .as("n_word_pieces"),
        length(col("text")).as("n_chars_computed"),
        col("n_chars"),
        size(tokens(col("text"))).as("n_tokens"))
      .orderBy(col("doc_id"))

  val docStatsSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '[a-z0-9]+')) AS n_word_pieces,
       |  length(text) AS n_chars_computed,
       |  n_chars,
       |  len($tokensSql) AS n_tokens
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  private val stopwords = Seq("the", "a", "of", "and", "in", "to")
  private val stopwordsSql = stopwords.map(s => s"'$s'").mkString("[", ", ", "]")

  /** Quality scoring: stopword ratio, mean token length, and a composite
    * score — the heuristics a pretraining-data filter runs per document.
    * All ratios are double divisions of exact integer counts, so the oracle
    * comparison is bit-exact. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks,
      t => array_contains(array(stopwords.map(lit): _*), t))).cast("double")
    val sumLen = aggregate(toks, lit(0),
      (acc, t) => acc + length(t)).cast("double")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        (nStop / nTok).as("stop_ratio"),
        (sumLen / nTok).as("mean_token_len"),
        // Composite: long docs with some-but-not-too-many stopwords win.
        (nTok / (nTok + lit(100.0)) * (lit(1.0) - (nStop / nTok))).as("quality"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    s"""SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  n_stop / n_tok AS stop_ratio,
       |  sum_len / n_tok AS mean_token_len,
       |  n_tok / (n_tok + 100.0) * (1.0 - (n_stop / n_tok)) AS quality
       |FROM (
       |  SELECT doc_id, toks,
       |    CAST(len(toks) AS DOUBLE) AS n_tok,
       |    CAST(len(list_filter(toks, t -> list_contains($stopwordsSql, t))) AS DOUBLE) AS n_stop,
       |    CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE) AS sum_len
       |  FROM (SELECT doc_id, $tokensSql AS toks FROM documents))
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  /** Corpus bigram counts via higher-order functions (sequence → transform
    * → explode) — no self-join, no shuffle until the count. */
  def bigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))

  val bigramsSql: String =
    s"""SELECT bigram, COUNT(*) AS n
       |FROM (
       |  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
       |  FROM (SELECT $tokensSql AS toks FROM documents))
       |GROUP BY bigram
       |ORDER BY n DESC, bigram""".stripMargin

  // ---------------------------------------------------------------------

  /** Document fingerprinting: a 31-ary polynomial rolling hash mod 1e9+7
    * over the characters (stays in codegen via the `aggregate` HOF; the
    * modulus keeps ANSI-mode long arithmetic overflow-free), plus md5 for
    * an exact content fingerprint. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        expr("aggregate(split(text, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")
          .as("poly_hash"),
        md5(col("text")).as("md5_hex"))
      .orderBy(col("doc_id"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS poly_hash,
      |  md5(text) AS md5_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
  )

  /** Language ID by stopword-marker voting: score per language = distinct
    * marker tokens present; argmax with a fixed priority order. A real
    * deployment swaps the marker lists for char-n-gram profiles — the
    * dataflow (per-row scoring, no shuffle) is identical. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toksD = array_distinct(tokens(col("text")))
    val scores = langMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(toksD, array(markers.map(lit): _*)))
    }
    val df = Tables.documents(spark, dir)
      .select((Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
        scores.map { case (l, s) => s.as(s"score_$l") }): _*)
    val argmax = langMarkers.map(_._1).foldRight[Column](lit("und")) {
      case (lang, acc) =>
        val isMax = langMarkers.map(_._1).filter(_ != lang).foldLeft[Column](
          col(s"score_$lang") > 0) { case (c, other) =>
          val cmp = if (langMarkers.indexWhere(_._1 == other) <
            langMarkers.indexWhere(_._1 == lang))
            col(s"score_$lang") > col(s"score_$other")   // must beat earlier langs
          else
            col(s"score_$lang") >= col(s"score_$other")  // ties beat later langs
          c && cmp
        }
        when(isMax, lit(lang)).otherwise(acc)
    }
    df.withColumn("pred_lang", argmax)
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val scoreCols = langMarkers.map { case (lang, markers) =>
      val arr = markers.map(m => s"'$m'").mkString("[", ", ", "]")
      s"len(list_filter(list_distinct($tokensSql), t -> list_contains($arr, t))) AS score_$lang"
    }.mkString(",\n  ")
    val langs = langMarkers.map(_._1)
    val argmax = langs.reverse.foldLeft("'und'") { case (acc, lang) =>
      val conds = (s"score_$lang > 0" +: langs.filter(_ != lang).map { other =>
        if (langs.indexOf(other) < langs.indexOf(lang))
          s"score_$lang > score_$other"
        else
          s"score_$lang >= score_$other"
      }).mkString(" AND ")
      s"CASE WHEN $conds THEN '$lang' ELSE $acc END"
    }
    s"""SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr,
       |  $argmax AS pred_lang
       |FROM (
       |  SELECT doc_id, lang AS labeled_lang,
       |  $scoreCols
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF-style term weighting (ratio form: tf · N/df — log-free so the
    * doubles divide identically in both engines). One compiled
    * per-document kernel emits each distinct token with its count (the
    * tokens of [[graft.functions.TextKernels.tokens]]), so the documents
    * are scanned and tokenized once; df is a count over those rows
    * partitioned by token (one exchange, where a second aggregation
    * joined back would re-tokenize the corpus), and N joins in as a
    * broadcast single-row frame. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.TextKernels.termFreqUdf(col("text"))).as("t"))
      .select(col("doc_id"), col("t.token").as("token"), col("t.tf").as("tf"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    tf.withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
      .join(broadcast(n), lit(true))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        (col("tf").cast("double") * col("n_docs") / col("df").cast("double"))
          .as("tfidf_ratio"))
      .orderBy(col("doc_id"), col("token"))
  }

  val tfidfSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($tokensSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
       |SELECT tf.doc_id, tf.token, tf.tf, df.df,
       |  CAST(tf.tf AS DOUBLE) * n.n_docs / CAST(df.df AS DOUBLE) AS tfidf_ratio
       |FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
       |ORDER BY tf.doc_id, tf.token""".stripMargin

  /** Deterministic, reproducible train/val/test split — the
    * training-data-pipeline op that must NOT use rand(): the split is a
    * pure function of the stable doc_id (first hex nibble of its md5), so
    * any executor, any retry, and any re-run of the corpus assigns every
    * document identically, and joining new columns onto a split later
    * cannot leak rows across sets. ~12.5% test / ~12.5% val / 75% train. */
  def detSplit(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("bucket").isin("0", "1"), lit("test"))
          .when(col("bucket").isin("2", "3"), lit("val"))
          .otherwise(lit("train")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
      .orderBy(col("lang"), col("split"))

  val detSplitSql: String =
    """SELECT lang,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
      |       ELSE 'train' END AS split,
      |  COUNT(*) AS n, MIN(doc_id) AS min_id
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin

  /** Text normalization for training corpora: strip tag-like markup,
    * collapse runs of whitespace, trim — composed regexp_replace (both
    * engines use leftmost-longest semantics on these simple patterns). */
  def textClean(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(col("text"), "<[^>]*>", " "),
          "\\s+", " ")).as("clean"))
      .withColumn("clean_len", length(col("clean")))
      .orderBy(col("doc_id"))

  val textCleanSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
      |       '\s+', ' ', 'g')) AS clean,
      |  LENGTH(trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
      |       '\s+', ' ', 'g'))) AS clean_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Within-document repetition ratio (the Gopher-style quality filter
    * that catches boilerplate/looping text): fraction of a document's
    * 3-grams that are duplicates of an earlier 3-gram in the same
    * document. Documents above a repetition threshold get dropped from
    * training corpora; the ratio is emitted so the threshold stays a
    * downstream choice. */
  def repRatio(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
      .withColumn("grams", expr(
        "transform(sequence(1, n - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("total_grams"),
        size(array_distinct(col("grams"))).cast("long").as("distinct_grams"))
      .withColumn("rep_ratio",
        (col("total_grams") - col("distinct_grams")).cast("double") /
          col("total_grams").cast("double"))
      .orderBy(col("doc_id"))

  val repRatioSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    [array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks) - 2)] AS grams
      |  FROM t WHERE len(toks) >= 3)
      |SELECT doc_id,
      |  CAST(len(grams) AS BIGINT) AS total_grams,
      |  CAST(len(list_distinct(grams)) AS BIGINT) AS distinct_grams,
      |  CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) /
      |    CAST(len(grams) AS DOUBLE) AS rep_ratio
      |FROM g
      |ORDER BY doc_id""".stripMargin

  /** The full Gopher repetition-filter suite (Rae et al. 2021, table A1)
    * beyond [[repRatio]]'s single 3-gram ratio: per document,
    *   - top-n-gram character fraction for n = 2..4 (characters covered
    *     by the most frequent n-gram; ties on count break to the largest
    *     gram in binary order so the measure is deterministic), and
    *   - duplicate-n-gram character fraction for n = 5..10
    *     (interval-union coverage: a token's characters count once no
    *     matter how many duplicated n-grams overlap it — the paper's
    *     overlap rule).
    * Numerators and the denominator are exact integer character counts
    * (spaces excluded on both sides), so the whole suite sits behind the
    * DuckDB hash gate; the fractions are single IEEE divisions of those
    * integers. Thresholding (the paper gates at 0.2 / 0.18 / 0.16 for
    * top-2/3/4 and 0.15..0.10 for dup-5..10) stays a downstream choice.
    *
    * Scale shape: every statistic is PER-DOCUMENT, so the plan is one
    * zero-shuffle compiled pass ([[graft.functions.TextKernels
    * .gopherRepetition]]) — tokenize once, one hash map per n — where the
    * relational form the oracle uses (explode grams → groupBy → window →
    * coverage join) would shuffle the corpus five times. At 100 TB this
    * is a pure map stage: no exchange, no skew surface, output one row
    * per input row. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetitionDocs(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** [[gopherRepetition]] over any (doc_id, text) frame — the streaming
    * funnel computes flags per micro-batch (the substringDedupDocs
    * split-out pattern). */
  private[ops] def gopherRepetitionDocs(documents: DataFrame): DataFrame = {
    val names = Seq("total_chars",
      "top_2_chars", "top_3_chars", "top_4_chars",
      "dup_5_chars", "dup_6_chars", "dup_7_chars", "dup_8_chars",
      "dup_9_chars", "dup_10_chars")
    val st = documents
      .select(col("doc_id"),
        graft.functions.TextKernels.gopherRepetitionUdf(col("text")).as("st"))
    val withCols = names.zipWithIndex.foldLeft(st) { case (df, (nm, i)) =>
      df.withColumn(nm, col("st").getItem(i))
    }
    val fracs = names.drop(1).map { nm =>
      when(col("total_chars") === 0L, lit(0.0))
        .otherwise(col(nm).cast("double") / col("total_chars").cast("double"))
        .as(nm.stripSuffix("_chars") + "_frac")
    }
    withCols
      .select(col("doc_id") +: names.map(col) ++: fracs: _*)
  }

  val gopherRepetitionSql: String = {
    val tops = Seq(2, 3, 4)
    val dups = Seq(5, 6, 7, 8, 9, 10)
    val charCols = (tops.map(n => s"top_${n}_chars") ++
      dups.map(n => s"dup_${n}_chars"))
    val pivot = (tops.map(n =>
      s"COALESCE(MAX(CASE WHEN kind = 'top' AND n = $n THEN chars END), 0) AS top_${n}_chars") ++
      dups.map(n =>
        s"COALESCE(MAX(CASE WHEN kind = 'dup' AND n = $n THEN chars END), 0) AS dup_${n}_chars"))
      .mkString(",\n    ")
    val outChars = charCols
      .map(c => s"CAST(COALESCE(p.$c, 0) AS BIGINT) AS $c").mkString(",\n  ")
    val outFracs = charCols.map { c =>
      val f = c.stripSuffix("_chars") + "_frac"
      s"CASE WHEN tot.total_chars = 0 THEN 0.0 ELSE CAST(COALESCE(p.$c, 0) AS DOUBLE) / CAST(tot.total_chars AS DOUBLE) END AS $f"
    }.mkString(",\n  ")
    s"""WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |  FROM documents),
      |tot AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS total_chars
      |  FROM t),
      |tn AS (
      |  SELECT doc_id, toks, ns.n
      |  FROM t CROSS JOIN (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) ns(n)
      |  WHERE len(toks) >= ns.n),
      |g AS (
      |  SELECT doc_id, n, u['s'] AS s, u['g'] AS gram
      |  FROM (SELECT doc_id, n,
      |          unnest([{'s': i, 'g': array_to_string(toks[i:i+n-1], ' ')}
      |                  FOR i IN generate_series(1, len(toks) - n + 1)]) AS u
      |        FROM tn)),
      |topg AS (
      |  SELECT doc_id, n,
      |    cnt * (length(gram) - (n - 1)) AS chars
      |  FROM (SELECT doc_id, n, gram, count(*) AS cnt,
      |          row_number() OVER (PARTITION BY doc_id, n
      |                             ORDER BY count(*) DESC, gram DESC) AS rn
      |        FROM g WHERE n <= 4 GROUP BY doc_id, n, gram)
      |  WHERE rn = 1),
      |dupstart AS (
      |  SELECT doc_id, n, s FROM (
      |    SELECT doc_id, n, s,
      |      count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt
      |    FROM g WHERE n >= 5)
      |  WHERE cnt > 1),
      |covpos AS (
      |  SELECT DISTINCT doc_id, n, pos FROM (
      |    SELECT doc_id, n, unnest(generate_series(s, s + n - 1)) AS pos
      |    FROM dupstart)),
      |tl AS (
      |  SELECT doc_id, u['p'] AS pos, u['l'] AS tlen FROM (
      |    SELECT doc_id,
      |      unnest([{'p': i, 'l': length(toks[i])} FOR i IN generate_series(1, len(toks))]) AS u
      |    FROM t)),
      |dupchars AS (
      |  SELECT c.doc_id, c.n, sum(tl.tlen) AS chars
      |  FROM covpos c JOIN tl ON c.doc_id = tl.doc_id AND c.pos = tl.pos
      |  GROUP BY c.doc_id, c.n),
      |allstats AS (
      |  SELECT doc_id, n, chars, 'top' AS kind FROM topg
      |  UNION ALL
      |  SELECT doc_id, n, chars, 'dup' AS kind FROM dupchars),
      |p AS (
      |  SELECT doc_id,
      |    $pivot
      |  FROM allstats GROUP BY doc_id)
      |SELECT tot.doc_id, tot.total_chars,
      |  $outChars,
      |  $outFracs
      |FROM tot LEFT JOIN p USING (doc_id)
      |ORDER BY tot.doc_id""".stripMargin
  }

  /** Gopher document-quality RULE FLAGS (Rae et al. 2021, §A1.1) — the
    * decision layer over the raw statistics [[qualityScore]] and
    * [[gopherRepetition]] expose: per document, each published rule as
    * its own boolean (token-count window, mean-word-length window,
    * symbol-to-word ratio, alphabetic-word fraction, stopword-hit
    * minimum) plus the conjunction `keep`. Every flag derives from
    * exact integer counts or a single IEEE division of them, so the
    * whole decision table sits in the hash gate. Thresholds are the
    * paper's (50..100k tokens, mean word length 3..10, symbol ratio
    * < 0.1, ≥ 80% alphabetic words, ≥ 2 stopword hits). Per-document,
    * zero-shuffle: the plan is one compiled projection pass. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    gopherQualityDocs(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  /** [[gopherQuality]] over any (doc_id, text) frame. */
  private[ops] def gopherQualityDocs(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0), (a, t) => a + length(t)).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("long")
    val nSym = size(filter(toks,
      t => t.contains("#") || t.contains("..."))).cast("long")
    val nStop = size(filter(toks,
      t => array_contains(array(stopwords.map(lit): _*), t))).cast("long")
    documents
      .select(col("doc_id"), nTok.as("n_tokens"), sumLen.as("sum_len"),
        nAlpha.as("n_alpha"), nSym.as("n_sym"), nStop.as("n_stop"))
      .withColumn("mean_word_len",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(col("sum_len").cast("double") /
            col("n_tokens").cast("double")))
      .withColumn("ok_count",
        col("n_tokens") >= 50L && col("n_tokens") <= 100000L)
      .withColumn("ok_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("ok_symbols", col("n_tokens") > 0L &&
        col("n_sym").cast("double") < col("n_tokens").cast("double") * 0.1)
      .withColumn("ok_alpha", col("n_tokens") > 0L &&
        col("n_alpha").cast("double") >=
          col("n_tokens").cast("double") * 0.8)
      .withColumn("ok_stop", col("n_stop") >= 2L)
      .withColumn("keep", col("ok_count") && col("ok_word_len") &&
        col("ok_symbols") && col("ok_alpha") && col("ok_stop"))
  }

  val gopherQualitySql: String =
    s"""SELECT *,
       |  ok_count AND ok_word_len AND ok_symbols AND ok_alpha AND ok_stop
       |    AS keep
       |FROM (
       |  SELECT doc_id, n_tokens, sum_len, n_alpha, n_sym, n_stop,
       |    CASE WHEN n_tokens = 0 THEN 0.0
       |         ELSE CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    END AS mean_word_len,
       |    n_tokens >= 50 AND n_tokens <= 100000 AS ok_count,
       |    CASE WHEN n_tokens = 0 THEN 0.0
       |         ELSE CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    END BETWEEN 3.0 AND 10.0 AS ok_word_len,
       |    n_tokens > 0 AND
       |      CAST(n_sym AS DOUBLE) < CAST(n_tokens AS DOUBLE) * 0.1
       |      AS ok_symbols,
       |    n_tokens > 0 AND
       |      CAST(n_alpha AS DOUBLE) >= CAST(n_tokens AS DOUBLE) * 0.8
       |      AS ok_alpha,
       |    n_stop >= 2 AS ok_stop
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(toks) AS BIGINT) AS n_tokens,
       |      CAST(COALESCE(list_aggregate(list_transform(toks,
       |        t -> length(t)), 'sum'), 0) AS BIGINT) AS sum_len,
       |      CAST(len(list_filter(toks,
       |        t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
       |      CAST(len(list_filter(toks, t -> contains(t, '#')
       |        OR contains(t, '...'))) AS BIGINT) AS n_sym,
       |      CAST(len(list_filter(toks,
       |        t -> list_contains($stopwordsSql, t))) AS BIGINT) AS n_stop
       |    FROM (SELECT doc_id, $tokensSql AS toks FROM documents)))
       |ORDER BY doc_id""".stripMargin

  /** C4-style page cleaning (Raffel et al. 2020, §2.2) — the LINE-level
    * filter family the fixture corpus cannot exercise (single-line, no
    * punctuation), so the pages are PLANTED as a pure function of
    * (doc_id, text) in BOTH engines (the text_redact move): each doc
    * becomes a multi-line page whose lines hit every rule — a good
    * sentence line, a too-short fragment, a boilerplate `javascript`
    * line (doc_id % 3), a `lorem ipsum` line (doc_id % 7), a `{` code
    * line (doc_id % 11), and an extra closing sentence (doc_id % 2).
    * Line rules: keep lines ending in terminal punctuation with ≥ 3
    * words and no `javascript`; page rules: drop pages containing `{`
    * or `lorem ipsum`, or with fewer than 3 surviving sentences. The
    * kept text, every counter, and the keep decision are all in the
    * hash. Per-document narrow pass — no shuffle, line fan-out stays
    * inside the row. */
  def c4Filter(spark: SparkSession, dir: String): DataFrame = {
    val l1 = concat(array_join(slice(tokens(col("text")), 1, 6), " "),
      lit("."))
    val l2 = array_join(slice(tokens(col("text")), 7, 2), " ")
    val l3 = when(col("doc_id") % 3 === 0,
      lit("please enable javascript on your browser."))
    val l4 = when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet."))
    val l5 = when(col("doc_id") % 11 === 0, lit("var x = function() {"))
    val l6 = concat(array_join(slice(tokens(col("text")), 9, 5), " "),
      lit(" is finally done here?"))
    val l7 = when(col("doc_id") % 2 === 0,
      lit("it also works well today!"))
    val keepLine = (l: Column) =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(tokens(l)) >= 3 &&
        !l.contains("javascript")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat_ws("\n", l1, l2, l3, l4, l5, l6, l7).as("page"))
      .withColumn("lines", split(col("page"), "\n"))
      .withColumn("kept_lines", filter(col("lines"), keepLine))
      .withColumn("kept_text", array_join(col("kept_lines"), "\n"))
      .withColumn("n_lines", size(col("lines")).cast("long"))
      .withColumn("n_kept_lines", size(col("kept_lines")).cast("long"))
      .withColumn("n_sentences",
        size(regexp_extract_all(col("kept_text"), lit("[.!?]"), lit(0)))
          .cast("long"))
      .withColumn("page_kept",
        !col("page").contains("{") && !col("page").contains("lorem ipsum") &&
          col("n_sentences") >= 3L)
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("n_sentences"), col("page_kept"),
        when(col("page_kept"), col("kept_text")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val c4FilterSql: String =
    s"""SELECT doc_id, n_lines, n_kept_lines, n_sentences, page_kept,
       |  CASE WHEN page_kept THEN kept_text END AS clean_text
       |FROM (
       |  SELECT doc_id, n_lines, n_kept_lines, n_sentences, kept_text,
       |    NOT contains(page, '{') AND NOT contains(page, 'lorem ipsum')
       |      AND n_sentences >= 3 AS page_kept
       |  FROM (
       |    SELECT doc_id, page,
       |      CAST(len(lines) AS BIGINT) AS n_lines,
       |      CAST(len(kept_lines) AS BIGINT) AS n_kept_lines,
       |      CAST(len(regexp_extract_all(array_to_string(kept_lines,
       |        chr(10)), '[.!?]')) AS BIGINT) AS n_sentences,
       |      array_to_string(kept_lines, chr(10)) AS kept_text
       |    FROM (
       |      SELECT doc_id, page, lines,
       |        list_filter(lines, l ->
       |          right(l, 1) IN ('.', '!', '?', '"')
       |          AND len(list_filter(string_split(l, ' '),
       |                w -> w <> '')) >= 3
       |          AND NOT contains(l, 'javascript')) AS kept_lines
       |      FROM (
       |        SELECT doc_id, page, string_split(page, chr(10)) AS lines
       |        FROM (
       |          SELECT doc_id, concat_ws(chr(10),
       |            array_to_string(toks[1:6], ' ') || '.',
       |            array_to_string(toks[7:8], ' '),
       |            CASE WHEN doc_id % 3 = 0
       |              THEN 'please enable javascript on your browser.' END,
       |            CASE WHEN doc_id % 7 = 0
       |              THEN 'lorem ipsum dolor sit amet.' END,
       |            CASE WHEN doc_id % 11 = 0
       |              THEN 'var x = function() {' END,
       |            array_to_string(toks[9:13], ' ')
       |              || ' is finally done here?',
       |            CASE WHEN doc_id % 2 = 0
       |              THEN 'it also works well today!' END) AS page
       |          FROM (SELECT doc_id, $tokensSql AS toks
       |                FROM documents))))))
       |ORDER BY doc_id""".stripMargin

  /** The FineWeb-style filtering FUNNEL (Penedo et al. 2024) — the
    * composed modern cascade over the operators this file already
    * gates: URL-level dedup (keep-first per canonical URL — the stage
    * real pipelines run BEFORE any text pass; [[UrlCuration]]) →
    * language allow-list → Gopher quality rules ([[gopherQuality]]) →
    * Gopher repetition thresholds (the paper's table-A1 cutoffs over
    * [[gopherRepetition]]'s fractions) → exact content dedup
    * (keep-first). Output is the attrition report every curation run
    * publishes: per stage, surviving documents and tokens.
    *
    * Scale shape: ONE pass — the stage memberships are CUMULATIVE
    * BOOLEAN FLAGS on each row and the funnel is a single conditional
    * aggregation (count/sum per flag), not six filtered re-scans; the
    * only shuffles are the per-canonical-URL and per-text windows for
    * the two dedup flags and the final 1-row aggregate. At 100 TB the
    * repetition statistics ride the same compiled per-doc kernel, so
    * the whole funnel costs one corpus scan + two dedup exchanges. */
  /** Per-document STATELESS funnel flags over any (doc_id, lang, text)
    * frame — everything the cascade decides without seeing other
    * documents: canonical URL, token count, and the language/quality/
    * repetition rule outcomes. The batch funnel adds its two dedup
    * flags with windows; the streaming funnel adds them from winner
    * logs. */
  private def funnelDocFlags(documents: DataFrame): DataFrame = {
    val q = gopherQualityDocs(documents)
      .select(col("doc_id"), col("n_tokens"), col("keep").as("q_keep"))
    val rep = gopherRepetitionDocs(documents)
      .select(col("doc_id") +: (Seq("top_2", "top_3", "top_4").map(c =>
        col(c + "_frac")) ++ (5 to 10).map(n => col(s"dup_${n}_frac"))): _*)
    val repOk = col("top_2_frac") <= 0.2 && col("top_3_frac") <= 0.18 &&
      col("top_4_frac") <= 0.16 &&
      Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10).zipWithIndex.map {
        case (t, i) => col(s"dup_${i + 5}_frac") <= t
      }.reduce(_ && _)
    documents
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("canon_url",
        graft.functions.UrlKernels.canonicalizeUrlUdf(UrlCuration.plantedUrl))
      .join(q, Seq("doc_id")).join(rep, Seq("doc_id"))
      .withColumn("langok", col("lang").isin("en", "de", "es", "fr"))
      .withColumn("qok", col("q_keep"))
      .withColumn("repok", repOk)
      .select(col("doc_id"), col("text"), col("canon_url"),
        col("n_tokens"), col("langok"), col("qok"), col("repok"))
  }

  /** The attrition report over a frame carrying (n_tokens, s1..s5):
    * one conditional aggregation + stack — shared by the batch and
    * streaming funnels. */
  private def funnelReport(flags: DataFrame): DataFrame = {
    val agg = flags.agg(
      count(lit(1)).as("c0"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("t0"),
      count(when(col("s1"), 1)).as("c1"),
      coalesce(sum(when(col("s1"), col("n_tokens"))), lit(0L)).as("t1"),
      count(when(col("s2"), 1)).as("c2"),
      coalesce(sum(when(col("s2"), col("n_tokens"))), lit(0L)).as("t2"),
      count(when(col("s3"), 1)).as("c3"),
      coalesce(sum(when(col("s3"), col("n_tokens"))), lit(0L)).as("t3"),
      count(when(col("s4"), 1)).as("c4"),
      coalesce(sum(when(col("s4"), col("n_tokens"))), lit(0L)).as("t4"),
      count(when(col("s5"), 1)).as("c5"),
      coalesce(sum(when(col("s5"), col("n_tokens"))), lit(0L)).as("t5"))
    agg.selectExpr(
      """stack(6,
        |  '0_total',      c0, t0,
        |  '1_url',        c1, t1,
        |  '2_lang',       c2, t2,
        |  '3_quality',    c3, t3,
        |  '4_repetition', c4, t4,
        |  '5_dedup',      c5, t5)
        |AS (stage, n_docs, total_tokens)""".stripMargin)
      .orderBy(col("stage"))
  }

  def finewebPipeline(spark: SparkSession, dir: String): DataFrame = {
    val flags = funnelDocFlags(Tables.documents(spark, dir))
      .withColumn("s1", col("doc_id") === min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("canon_url"))))
      .withColumn("s2", col("s1") && col("langok"))
      .withColumn("s3", col("s2") && col("qok"))
      .withColumn("s4", col("s3") && col("repok"))
      .withColumn("s5", col("s4") && col("doc_id") ===
        min(when(col("s4"), col("doc_id")))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("text"))))
    funnelReport(flags)
  }

  /** One micro-batch of the STREAMING funnel — the curation cascade as
    * an ingest-time pipeline publishing a RUNNING attrition report
    * (what a production crawl dashboard shows). Stateless flags come
    * from [[funnelDocFlags]] on the batch alone; the two dedup stages
    * read/extend append-only winner logs:
    *  - `urlwin`  — md5(canonical URL) digests already claimed;
    *  - `textwin` — md5(text) digests claimed by a STAGE-4-SURVIVING
    *    doc (the batch rule's min is over s4 docs only, so only they
    *    may claim);
    *  - `flags`   — per-doc (n_tokens, s1..s5, epoch) rows, append-only:
    *    under id-ordered arrival every flag depends only on earlier
    *    arrivals (prefix-closure), so decisions at arrival are final
    *    and the folded report equals the batch funnel. */
  def finewebStreamApplyBatch(batch: DataFrame, epoch: Long,
                              statePath: String,
                              compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val tEpoch = System.nanoTime()
    Seq("urlwin", "textwin", "flags").foreach(r =>
      graft.tools.LogState.requireNoFuture(s"$statePath/$r", epoch))
    val flags0 = funnelDocFlags(batch)
      .withColumn("udig", md5(col("canon_url")))
      .withColumn("tdig", md5(col("text")))
      .stage()
    // ADMISSION CONTRACT, enforced (VERDICT r15 #4): both dedup windows
    // equal the batch funnel's min-doc_id-wins rule only under GLOBAL
    // id-ordered arrival (first arrival must be the smallest id of its
    // digest). A straggler with a smaller id than an already-published
    // winner cannot displace it — decisions are append-only — so
    // rather than silently diverge from the batch oracle, fail fast:
    // epoch-keyed high-water-mark FILES (the CdcUpsert watermark
    // pattern; metadata-priced, one bounded aggregate per epoch) record
    // the global max doc_id, and a batch reaching at or below it is
    // rejected before any state write. Upstream remedies: deliver in id
    // order, or quarantine via [[graft.ops.CdcUpsert.withLateness]]
    // (the budget-late recipe). Guard reads marks strictly older than
    // this epoch — replay-legal.
    val marksRoot = s"$statePath/maxid"
    val mark = graft.tools.HighWaterMarks.readAsOf(marksRoot, epoch - 1)
      .get("")
    val mm = flags0.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (!mm.isNullAt(0)) {
      mark.foreach { m =>
        if (mm.getLong(0) <= m) throw new IllegalStateException(
          s"fineweb stream epoch $epoch: doc_id ${mm.getLong(0)} " +
            s"arrives at or below the high-water mark $m — id-ordered " +
            "admission violated; deliver in order or quarantine via " +
            "withLateness")
      }
      graft.tools.HighWaterMarks.write(marksRoot, epoch,
        Map("" -> math.max(mark.getOrElse(Long.MinValue), mm.getLong(1))))
    }
    def histOf(root: String): DataFrame = {
      val paths = graft.tools.LogState.pathsAsOf(s"$statePath/$root",
        epoch - 1)
      if (paths.isEmpty) flags0.select(col("udig").as("dig")).limit(0)
      else LogState.read(sp, s"$statePath/$root", paths)
    }
    val urlHist = histOf("urlwin")
    val newUrlWin = flags0.groupBy(col("udig"))
      .agg(min(col("doc_id")).as("u_keep"))
      .join(urlHist.select(col("dig").as("udig")), Seq("udig"), "left_anti")
      .stage()
    val s14 = flags0
      .join(newUrlWin, Seq("udig"), "left_outer")
      .withColumn("s1", col("u_keep") === col("doc_id"))
      .na.fill(false, Seq("s1"))
      .withColumn("s2", col("s1") && col("langok"))
      .withColumn("s3", col("s2") && col("qok"))
      .withColumn("s4", col("s3") && col("repok"))
    val textHist = histOf("textwin")
    val newTextWin = s14.filter(col("s4")).groupBy(col("tdig"))
      .agg(min(col("doc_id")).as("t_keep"))
      .join(textHist.select(col("dig").as("tdig")), Seq("tdig"), "left_anti")
      .stage()
    val res = s14
      .join(newTextWin, Seq("tdig"), "left_outer")
      .withColumn("s5", col("s4") && col("t_keep") === col("doc_id"))
      .na.fill(false, Seq("s5"))
      .select(col("doc_id"), col("n_tokens"), col("s1"), col("s2"),
        col("s3"), col("s4"), col("s5"), lit(epoch).as("epoch"))
    newUrlWin.select(col("udig").as("dig")).write.mode("overwrite")
      .parquet(s"$statePath/urlwin/delta/v$epoch")
    newTextWin.select(col("tdig").as("dig")).write.mode("overwrite")
      .parquet(s"$statePath/textwin/delta/v$epoch")
    res.write.mode("overwrite")
      .parquet(s"$statePath/flags/delta/v$epoch")
    graft.tools.LogState.maintain(sp,
      Seq(s"$statePath/urlwin", s"$statePath/textwin",
        s"$statePath/flags"), epoch, compactEvery)(identity)
    graft.tools.PhaseTiming.record(f"fwepoch$epoch%03d",
      (System.nanoTime() - tEpoch) / 1e9)
  }

  /** The running attrition report as of `upTo`; None before the first
    * batch. */
  def finewebStreamReport(sp: SparkSession, statePath: String,
                          upTo: Long): Option[DataFrame] = {
    val root = s"$statePath/flags"
    val paths = graft.tools.LogState.pathsAsOf(root, upTo)
    if (paths.isEmpty) None
    else Some(funnelReport(LogState.read(sp, root, paths)))
  }

  /** STREAMING funnel through the HASH GATE: contiguous id-range
    * batches (arrival order = id order — the prefix-closure regime),
    * final report must equal batch [[finewebPipeline]] — the SAME
    * oracle. A winner double-claim, a non-s4 doc claiming a text
    * digest, or a replay double-publish all move the attrition counts
    * and break the hash. */
  def finewebStream(spark: SparkSession, dir: String,
                    epochs: Int = 4): DataFrame = {
    val base = StateCache.replay("pipeline_fineweb_stream", Some(dir), epochs,
        StateCache.Range("doc_id"), None)(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("text"))) {
      (b, k, st) => finewebStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    finewebStreamReport(spark, s"$base/state", epochs - 1L)
      .getOrElse(sys.error("fineweb stream: no state"))
      .stage()
      .orderBy(col("stage"))
  }

  /** STREAMING funnel under EVENT-TIME LATENESS (r16 — the remedy the
    * admission guard's error message advertises, composed end to end):
    * each id-range batch passes through [[CdcUpsert.withLateness]]
    * before the funnel — rows below the carried watermark quarantine
    * (epoch-keyed, auditable) and never touch the winner logs, so the
    * on-time stream stays id-ordered and the admission guard holds
    * over exactly the admitted docs. Event times are the planted
    * budget-late recipe (docs with doc_id % 7 == 3 arriving in epoch
    * ≥ 2 carry a two-epoch-old event time; some fall under the
    * watermark, some are tolerated disorder). Output = the attrition
    * report over ON-TIME docs + a `6_late` row (quarantined docs and
    * their token mass — what a crawl dashboard shows as "held for
    * backfill"). The oracle replays the dense watermark recurrence and
    * runs the funnel SQL over exactly the on-time docs: a late doc
    * leaking into a dedup window, or a dropped quarantine row, breaks
    * the hash. */
  def finewebStreamLate(spark: SparkSession, dir: String,
                        epochs: Int = Corpus.StreamLateEpochs,
                        latenessMicros: Long = Corpus.StreamLatenessMicros): DataFrame = {
    val base = StateCache.replay("pipeline_fineweb_stream_late", Some(dir),
        epochs, StateCache.Range("doc_id"), Some(latenessMicros))(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("text"))) {
      (b, k, st) => finewebStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    val report = finewebStreamReport(spark, s"$base/state", epochs - 1L)
      .getOrElse(sys.error("fineweb stream late: no state"))
    // the 6_late row is ALWAYS present (the oracle emits a zero row
    // when nothing quarantined — an absent row would hash-mismatch
    // on a corpus with no late arrivals)
    val lateRow = CdcUpsert.quarantineAsOf(spark, s"$base/late", epochs - 1L)
      .map(q => funnelDocFlags(q.select(col("doc_id"), col("lang"),
          col("text")))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("total_tokens"))
        .select(lit("6_late").as("stage"), col("n_docs"),
          col("total_tokens")))
      .getOrElse {
        import spark.implicits._
        Seq(("6_late", 0L, 0L)).toDF("stage", "n_docs", "total_tokens")
      }
    report.unionByName(lateRow).stage().orderBy(col("stage"))
  }

  /** Oracle of [[finewebStreamLate]]: watermark recurrence over the
    * derived event times, the funnel twin over on-time docs only, plus
    * the quarantine row. */
  lazy val finewebStreamLateSql: String =
    s"""WITH u AS (${UrlCuration.withUrlSql}),
       |${UrlCuration.canonSql},
       |q AS (
       |  SELECT doc_id, n_tokens, keep AS q_keep
       |  FROM ($gopherQualitySql)),
       |rep AS (
       |  SELECT doc_id, top_2_frac, top_3_frac, top_4_frac,
       |    dup_5_frac, dup_6_frac, dup_7_frac, dup_8_frac, dup_9_frac,
       |    dup_10_frac
       |  FROM ($gopherRepetitionSql)),
       |b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
       |t AS (
       |  SELECT d.doc_id, arr_epoch,
       |    (CASE WHEN d.doc_id % 7 = 3 AND arr_epoch >= 2
       |          THEN arr_epoch - 2 ELSE arr_epoch END) * 1000000
       |      + (d.doc_id * 131 % 997) * 1000 AS ts_us
       |  FROM (SELECT doc_id,
       |          (doc_id - b.lo) // ((b.hi - b.lo) // ${Corpus.StreamLateEpochs} + 1) AS arr_epoch
       |        FROM documents, b) d),
       |m AS (SELECT arr_epoch, MAX(ts_us) AS mx FROM t GROUP BY arr_epoch),
       |w AS (SELECT g.epoch,
       |        MAX(m.mx) OVER (ORDER BY g.epoch
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          - ${Corpus.StreamLatenessMicros} AS wm
       |      FROM range(0, ${Corpus.StreamLateEpochs}) g(epoch) LEFT JOIN m ON m.arr_epoch = g.epoch),
       |lt AS (SELECT t.doc_id, CASE WHEN p.wm IS NOT NULL AND t.ts_us < p.wm
       |              THEN 1 ELSE 0 END AS late
       |       FROM t LEFT JOIN w p ON p.epoch = t.arr_epoch - 1),
       |flags0 AS (
       |  SELECT d.doc_id, d.text, q.n_tokens,
       |    d.doc_id = MIN(d.doc_id) OVER (PARTITION BY c.canon_url) AS s1,
       |    d.lang IN ('en', 'de', 'es', 'fr') AS langok,
       |    q.q_keep AS qok,
       |    rep.top_2_frac <= 0.2 AND rep.top_3_frac <= 0.18
       |      AND rep.top_4_frac <= 0.16 AND rep.dup_5_frac <= 0.15
       |      AND rep.dup_6_frac <= 0.14 AND rep.dup_7_frac <= 0.13
       |      AND rep.dup_8_frac <= 0.12 AND rep.dup_9_frac <= 0.11
       |      AND rep.dup_10_frac <= 0.10 AS repok
       |  FROM documents d
       |  JOIN canon c ON c.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN rep ON rep.doc_id = d.doc_id
       |  JOIN lt ON lt.doc_id = d.doc_id
       |  WHERE lt.late = 0),
       |flags AS (
       |  SELECT doc_id, n_tokens, s1,
       |    s1 AND langok AS s2,
       |    s1 AND langok AND qok AS s3,
       |    s1 AND langok AND qok AND repok AS s4,
       |    s1 AND langok AND qok AND repok AND doc_id =
       |      MIN(CASE WHEN s1 AND langok AND qok AND repok THEN doc_id END)
       |        OVER (PARTITION BY text) AS s5
       |  FROM flags0),
       |agg AS (
       |  SELECT
       |    CAST(COUNT(*) AS BIGINT) AS c0,
       |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t0,
       |    CAST(COUNT(CASE WHEN s1 THEN 1 END) AS BIGINT) AS c1,
       |    CAST(COALESCE(SUM(CASE WHEN s1 THEN n_tokens END), 0) AS BIGINT) AS t1,
       |    CAST(COUNT(CASE WHEN s2 THEN 1 END) AS BIGINT) AS c2,
       |    CAST(COALESCE(SUM(CASE WHEN s2 THEN n_tokens END), 0) AS BIGINT) AS t2,
       |    CAST(COUNT(CASE WHEN s3 THEN 1 END) AS BIGINT) AS c3,
       |    CAST(COALESCE(SUM(CASE WHEN s3 THEN n_tokens END), 0) AS BIGINT) AS t3,
       |    CAST(COUNT(CASE WHEN s4 THEN 1 END) AS BIGINT) AS c4,
       |    CAST(COALESCE(SUM(CASE WHEN s4 THEN n_tokens END), 0) AS BIGINT) AS t4,
       |    CAST(COUNT(CASE WHEN s5 THEN 1 END) AS BIGINT) AS c5,
       |    CAST(COALESCE(SUM(CASE WHEN s5 THEN n_tokens END), 0) AS BIGINT) AS t5
       |  FROM flags),
       |lr AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS c,
       |    CAST(COALESCE(SUM(q.n_tokens), 0) AS BIGINT) AS t
       |  FROM lt JOIN q ON q.doc_id = lt.doc_id WHERE lt.late = 1)
       |SELECT stage, n_docs, total_tokens FROM (
       |  SELECT '0_total' AS stage, c0 AS n_docs, t0 AS total_tokens FROM agg
       |  UNION ALL SELECT '1_url', c1, t1 FROM agg
       |  UNION ALL SELECT '2_lang', c2, t2 FROM agg
       |  UNION ALL SELECT '3_quality', c3, t3 FROM agg
       |  UNION ALL SELECT '4_repetition', c4, t4 FROM agg
       |  UNION ALL SELECT '5_dedup', c5, t5 FROM agg
       |  UNION ALL SELECT '6_late', c, t FROM lr)
       |ORDER BY stage""".stripMargin

  val finewebPipelineSql: String =
    s"""WITH u AS (${UrlCuration.withUrlSql}),
       |${UrlCuration.canonSql},
       |q AS (
       |  SELECT doc_id, n_tokens, keep AS q_keep
       |  FROM ($gopherQualitySql)),
       |rep AS (
       |  SELECT doc_id, top_2_frac, top_3_frac, top_4_frac,
       |    dup_5_frac, dup_6_frac, dup_7_frac, dup_8_frac, dup_9_frac,
       |    dup_10_frac
       |  FROM ($gopherRepetitionSql)),
       |flags0 AS (
       |  SELECT d.doc_id, d.text, q.n_tokens,
       |    d.doc_id = MIN(d.doc_id) OVER (PARTITION BY c.canon_url) AS s1,
       |    d.lang IN ('en', 'de', 'es', 'fr') AS langok,
       |    q.q_keep AS qok,
       |    rep.top_2_frac <= 0.2 AND rep.top_3_frac <= 0.18
       |      AND rep.top_4_frac <= 0.16 AND rep.dup_5_frac <= 0.15
       |      AND rep.dup_6_frac <= 0.14 AND rep.dup_7_frac <= 0.13
       |      AND rep.dup_8_frac <= 0.12 AND rep.dup_9_frac <= 0.11
       |      AND rep.dup_10_frac <= 0.10 AS repok
       |  FROM documents d
       |  JOIN canon c ON c.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN rep ON rep.doc_id = d.doc_id),
       |flags AS (
       |  SELECT doc_id, n_tokens, s1,
       |    s1 AND langok AS s2,
       |    s1 AND langok AND qok AS s3,
       |    s1 AND langok AND qok AND repok AS s4,
       |    s1 AND langok AND qok AND repok AND doc_id =
       |      MIN(CASE WHEN s1 AND langok AND qok AND repok THEN doc_id END)
       |        OVER (PARTITION BY text) AS s5
       |  FROM flags0),
       |agg AS (
       |  SELECT
       |    CAST(COUNT(*) AS BIGINT) AS c0,
       |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t0,
       |    CAST(COUNT(CASE WHEN s1 THEN 1 END) AS BIGINT) AS c1,
       |    CAST(COALESCE(SUM(CASE WHEN s1 THEN n_tokens END), 0) AS BIGINT) AS t1,
       |    CAST(COUNT(CASE WHEN s2 THEN 1 END) AS BIGINT) AS c2,
       |    CAST(COALESCE(SUM(CASE WHEN s2 THEN n_tokens END), 0) AS BIGINT) AS t2,
       |    CAST(COUNT(CASE WHEN s3 THEN 1 END) AS BIGINT) AS c3,
       |    CAST(COALESCE(SUM(CASE WHEN s3 THEN n_tokens END), 0) AS BIGINT) AS t3,
       |    CAST(COUNT(CASE WHEN s4 THEN 1 END) AS BIGINT) AS c4,
       |    CAST(COALESCE(SUM(CASE WHEN s4 THEN n_tokens END), 0) AS BIGINT) AS t4,
       |    CAST(COUNT(CASE WHEN s5 THEN 1 END) AS BIGINT) AS c5,
       |    CAST(COALESCE(SUM(CASE WHEN s5 THEN n_tokens END), 0) AS BIGINT) AS t5
       |  FROM flags)
       |SELECT stage, n_docs, total_tokens FROM (
       |  SELECT '0_total' AS stage, c0 AS n_docs, t0 AS total_tokens FROM agg
       |  UNION ALL SELECT '1_url', c1, t1 FROM agg
       |  UNION ALL SELECT '2_lang', c2, t2 FROM agg
       |  UNION ALL SELECT '3_quality', c3, t3 FROM agg
       |  UNION ALL SELECT '4_repetition', c4, t4 FROM agg
       |  UNION ALL SELECT '5_dedup', c5, t5 FROM agg)
       |ORDER BY stage""".stripMargin

  /** DSIR-style importance selection (Xie et al. 2023, hashed n-gram
    * features) in the repo's INTEGER-EXACT ratio discipline: documents
    * are scored by how target-like their hashed-bigram feature
    * distribution is. Features are bigrams hashed to 64 buckets by the
    * 31-ary polynomial hash both engines already share
    * ([[fingerprint]]); target = the 'en' slice, raw = the whole
    * corpus; +1/+B smoothing on both models. The paper's log-space
    * importance weight Σ log(p_t(f)/p_r(f)) is replaced by the sum of
    * floor-scaled PER-FEATURE likelihood ratios
    * floor(10⁶·(tc+1)(R+B) / ((rc+1)(T+B))) — the same log-free move as
    * BM25's integer form and [[lmScore]]'s ratio form (ln is not
    * bit-reproducible across engines), documented as a monotone
    * surrogate per feature; selection = per-gram average ratio ≥ 10⁶,
    * i.e. "more target-like than raw on average", a fixed threshold
    * that needs NO global sort. Scale shape: one explode, two O(B)
    * count tables broadcast back, one per-doc aggregation — the
    * corpus shuffles once by doc_id. */
  /** Hashed-bigram feature stream of a documents frame: one narrow
    * explode, bucket = the shared 31-ary polynomial hash mod 64. */
  private def dsirGrams(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("gram"))
      .withColumn("b", expr(
        """aggregate(split(gram, ''), 0L,
          |  (acc, c) -> (acc * 31 + ascii(c)) % 1000000007) % 64""".stripMargin))

  /** Scores a gram stream against the (raw, tgt, totals) importance
    * model — all three model frames are O(B) and broadcast. Shared by
    * the batch form and the frozen-model streaming form, so their
    * scoring arithmetic cannot drift apart. */
  private def dsirScore(grams: DataFrame, raw: DataFrame, tgt: DataFrame,
                        totals: DataFrame): DataFrame =
    // BOTH model joins are left_outer + fill(0): under a frozen model a
    // scored gram can hash to a bucket the reference corpus never
    // produced (rc = 0 is exactly what +1 smoothing is for). An inner
    // raw join would silently DROP such grams — and a doc whose grams
    // all land in uncovered buckets would vanish from the results log,
    // a curation decision never made. The batch form can't hit this
    // (raw is built from the same grams) but shares the code path.
    grams.join(broadcast(raw), Seq("b"), "left_outer")
      .na.fill(0L, Seq("rc"))
      .join(broadcast(tgt), Seq("b"), "left_outer")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(totals))
      .withColumn("term", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (tc + 1) * (rt + 64))
          |  div ((rc + 1) * (tt + 64)) AS DECIMAL(38,0))""".stripMargin))
      .groupBy(col("doc_id"))
      // score_sum crosses the gate boundary, so it follows the BIGINT
      // output-type rule (Relational2.scala) — a raw Spark DECIMAL(38,0)
      // vs DuckDB HUGEINT hashes differently even when values agree.
      // Per-doc sums fit comfortably: term ≈ 10⁶-scale, n_grams ≤ doc
      // token count, so score_sum < 10¹² « 2⁶³.
      .agg(count(lit(1)).as("n_grams"),
        sum(col("term")).cast("long").as("score_sum"))
      .withColumn("score_avg",
        expr("CAST(score_sum div n_grams AS BIGINT)"))
      .withColumn("selected", col("score_avg") >= 1000000L)

  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val grams = dsirGrams(Tables.documents(spark, dir))
    val raw = grams.groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val tgt = grams.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))
    val totals = grams.agg(count(lit(1)).as("rt"),
      count(when(col("lang") === "en", 1)).as("tt"))
    dsirScore(grams, raw, tgt, totals).orderBy(col("doc_id"))
  }

  /** Trains the DSIR importance model on a reference corpus and
    * PERSISTS it (three tiny parquet tables: per-bucket raw counts,
    * per-bucket target counts, 1-row totals) — the deployment split the
    * paper's pipeline actually uses: the model is fit once on a held
    * reference corpus, then applied at INGEST time to every arriving
    * document. Model size is O(B) = 64 rows regardless of corpus
    * size. */
  def dsirModelTrain(spark: SparkSession, dir: String,
                     modelPath: String): Unit = {
    val grams = dsirGrams(Tables.documents(spark, dir))
    grams.groupBy(col("b")).agg(count(lit(1)).as("rc"))
      .coalesce(1).write.mode("overwrite").parquet(s"$modelPath/raw")
    grams.filter(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))
      .coalesce(1).write.mode("overwrite").parquet(s"$modelPath/tgt")
    grams.agg(count(lit(1)).as("rt"),
        count(when(col("lang") === "en", 1)).as("tt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$modelPath/totals")
  }

  /** One micro-batch of STREAMING DSIR selection under a FROZEN model:
    * scoring is a pure per-doc function of the persisted model (a
    * 64-row broadcast), so decisions at arrival are final — no
    * prefix-closure argument needed, no revision, no cross-doc state
    * beyond the append-only results log. Per-epoch cost: one explode
    * over the batch + the broadcast model join. Epoch-keyed overwrite —
    * replay rewrites identical files. */
  def dsirStreamApplyBatch(batch: DataFrame, epoch: Long,
                           statePath: String, modelPath: String,
                           compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val tEpoch = System.nanoTime()
    graft.tools.LogState.requireNoFuture(s"$statePath/results", epoch)
    val res = dsirScore(dsirGrams(batch),
      Tables.parquet(sp, s"$modelPath/raw"),
      Tables.parquet(sp, s"$modelPath/tgt"),
      Tables.parquet(sp, s"$modelPath/totals"))
      .withColumn("epoch", lit(epoch))
    res.write.mode("overwrite")
      .parquet(s"$statePath/results/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/results"), epoch,
      compactEvery)(identity)
    graft.tools.PhaseTiming.record(f"dsirepoch$epoch%03d",
      (System.nanoTime() - tEpoch) / 1e9)
  }

  /** STREAMING DSIR through the HASH GATE: the model trains once on the
    * full corpus (the reference-corpus step), then the same corpus
    * streams through frozen-model scoring in contiguous id-range
    * batches — the folded results must equal batch [[dsirSelect]], the
    * SAME oracle. A model drift between epochs, a double-published
    * replay, or a scoring-path divergence from the batch arithmetic
    * breaks the hash. */
  def dsirStream(spark: SparkSession, dir: String,
                 epochs: Int = 4): DataFrame = {
    val base = StateCache.replay("text_dsir_stream", Some(dir), epochs,
        StateCache.Range("doc_id"), None)(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("text"))) { (b, k, st) =>
      // the reference-corpus step: the model trains once, before the
      // first epoch scores against it
      if (k == 0) dsirModelTrain(spark, dir, s"$st/model")
      dsirStreamApplyBatch(b, k, st, s"$st/model", compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/results", epochs - 1L)
      .select(col("doc_id"), col("n_grams"), col("score_sum"),
        col("score_avg"), col("selected"))
      .stage()
      .orderBy(col("doc_id"))
  }

  val dsirSelectSql: String =
    s"""WITH d AS (SELECT doc_id, lang, $tokensSql AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, lang,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(gram, ''),
       |        c -> CAST(ascii(c) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % 1000000007) % 64 AS b
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest(list_transform(generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1])) AS gram
       |    FROM d WHERE len(toks) >= 2)),
       |raw AS (SELECT b, COUNT(*) AS rc FROM g GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS tc FROM g WHERE lang = 'en' GROUP BY b),
       |tot AS (SELECT COUNT(*) AS rt,
       |        COUNT(CASE WHEN lang = 'en' THEN 1 END) AS tt FROM g),
       |sc AS (
       |  SELECT doc_id,
       |    (CAST(1000000 AS HUGEINT) * (COALESCE(tc, 0) + 1) * (rt + 64))
       |      // ((rc + 1) * (tt + 64)) AS term
       |  FROM g
       |  JOIN raw USING (b)
       |  LEFT JOIN tgt USING (b)
       |  CROSS JOIN tot)
       |SELECT doc_id, n_grams, score_sum,
       |  CAST(score_sum // n_grams AS BIGINT) AS score_avg,
       |  CAST(score_sum // n_grams AS BIGINT) >= 1000000 AS selected
       |FROM (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(term) AS BIGINT) AS score_sum
       |  FROM sc GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The FULL curation pipeline, end to end (VERDICT r15 #6 — the
    * integration test for everything built in 16 rounds): the
    * production shape the north star describes, composed from this
    * library's gate-checked operators in their deployment order:
    *
    *   URL canon+dedup → language → Gopher quality → Gopher repetition
    *   → exact text dedup (the FineWeb funnel, stages 01–05)
    *   → substring DECONTAMINATION against the planted benchmark split
    *     (stage 06 — survivors are s5 docs outside the test split with
    *     ≥1 token left after banned-span removal; tokens become CLEAN
    *     counts from here on)
    *   → DSIR importance selection on the CLEAN text under the frozen
    *     full-corpus reference model (stage 07 — the deployment split:
    *     model from the reference corpus, scoring per arriving doc; a
    *     doc left with <2 tokens has no bigram features and is not
    *     selected)
    *   → per-domain cap at [[UrlCuration.DomainCapK]] by md5 rank among
    *     the survivors (stage 08)
    *   → mixture plan (per-language integer repeats against the fixed
    *     share table and `mixBudget`, stage 09 = docs with ≥1 planned
    *     pass and their PLANNED tokens)
    *   → sequence packing (stage 10 — n_docs is the total training
    *     sequences ceil(planned/seqLen) summed per source; tokens = the
    *     packed planned tokens).
    *
    * Output is the per-stage attrition report (stage, n_docs,
    * total_tokens), zero-padded so the stage order is lexicographic.
    * Scale shape: stages 0–5 are ONE scan + two dedup windows (the
    * funnel's audited plan); each later stage runs the already-audited
    * operator shape over a strictly SHRINKING survivor frame — the
    * cumulative-flag trick keeps the report a bounded number of passes
    * (no per-stage re-scan of the raw corpus; the raw text is read
    * once by the funnel and once by the frozen-model trainer). The
    * oracle recomposes every stage's existing SQL twin over the same
    * chain — a drift in ANY stage's semantics, or in how stages hand
    * survivors forward, breaks the hash. */
  /** Shared between [[curationPipeline]]'s default and
    * [[curationPipelineSql]]'s interpolation (the q103 pattern). */
  val MixBudgetDefault: Long = 20000L

  def curationPipeline(spark: SparkSession, dir: String,
                       mixBudget: Long = MixBudgetDefault,
                       seqLen: Int = Corpus.SeqLenDefault): DataFrame = {
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val docsRaw = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    // stages 00-05: the FineWeb funnel flags (same chain the
    // pipeline_fineweb gate pins)
    val flags = funnelDocFlags(docsRaw)
      .withColumn("s1", col("doc_id") === min(col("doc_id"))
        .over(W.partitionBy(col("canon_url"))))
      .withColumn("s2", col("s1") && col("langok"))
      .withColumn("s3", col("s2") && col("qok"))
      .withColumn("s4", col("s3") && col("repok"))
      .withColumn("s5", col("s4") && col("doc_id") ===
        min(when(col("s4"), col("doc_id"))).over(W.partitionBy(col("text"))))
      .withColumn("is_test",
        substring(md5(col("doc_id").cast("string")), 1, 1).isin("0", "1"))
      .stage()
    // stage 06: decontaminate the survivors against the planted
    // benchmark split (the standalone text_decontaminate operator over
    // injectable frames)
    val test = docsRaw
      .filter(substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("0", "1"))
      .select(col("doc_id"), col("text"))
    val cleaned = Dedup.decontaminateDocs(
        flags.filter(col("s5") && !col("is_test"))
          .select(col("doc_id"), col("text")),
        test)
      .withColumn("rem", col("n_tokens") - col("n_removed"))
    val s6 = cleaned.filter(col("rem") >= 1)
      .join(docsRaw.select(col("doc_id"), col("lang"), col("source")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("rem"),
        col("clean_text"))
      .stage()
    // stage 07: DSIR selection on clean text, FROZEN reference model
    // trained on the full original corpus — [[dsirModelTrain]]'s
    // deployment split, trained once per (corpus, session) and persisted
    // (the quality_phases / bm25Indexed precedent; the model is three
    // O(64)-row tables, and re-fitting it per iteration re-exploded the
    // raw corpus the composition doc promises is scanned once by the
    // funnel and once by the TRAINER — not once per report). The build
    // stays visible as the dsir_model.build phase; text_dsir keeps
    // gating the inline-model batch form.
    val modelPath = graft.tools.StateCache.getOrBuild("dsir_model",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}") { root =>
      dsirModelTrain(spark, dir, root)
    }
    val scored = dsirScore(
      dsirGrams(s6.select(col("doc_id"), col("lang"),
        col("clean_text").as("text"))),
      Tables.parquet(spark, s"$modelPath/raw"),
      Tables.parquet(spark, s"$modelPath/tgt"),
      Tables.parquet(spark, s"$modelPath/totals"))
    val s7 = s6
      .join(scored.filter(col("selected")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .stage()
    // stage 08: per-domain cap among survivors (md5-rank sample, the
    // corpus_domain_cap arithmetic, ranked within the SURVIVOR set)
    val s8 = TwoLevel.rank(
        TwoLevel.withMd5Bucket(
          s7.withColumn("domain",
            graft.functions.UrlKernels.urlDomainUdf(UrlCuration.plantedUrl)),
          col("doc_id").cast("string"), "__o", "__b"),
        Seq("domain"), "__b", Seq(col("__o"), col("doc_id")), "rk")
      .filter(col("rk") <= UrlCuration.DomainCapK)
      .select(col("doc_id"), col("lang"), col("source"), col("rem"))
      .stage()
    // stage 09: mixture plan over the curated corpus (corpus_mix
    // arithmetic on CLEAN token counts)
    val weights = Seq(("de", 1500L), ("en", 4000L), ("es", 1000L),
      ("fr", 1000L), ("zh", 2500L)).toDF("lang", "w_bp")
    val tgt2 = s8.groupBy(col("lang")).agg(sum(col("rem")).as("pool"))
      .join(broadcast(weights), Seq("lang"))
      .withColumn("target", expr(s"w_bp * $mixBudget div 10000"))
      .select(col("lang"), col("pool"), col("target"))
    val mixed = TwoLevel.cumBefore(
        TwoLevel.withMd5Bucket(s8, col("doc_id").cast("string"), "__o", "__b"),
        Seq("lang"), "__b", Seq(col("__o"), col("doc_id")), "rem",
        "cum_before")
      .join(broadcast(tgt2), Seq("lang"))
      .withColumn("repeats", expr("target div pool") +
        when(col("cum_before") < expr("target % pool"), lit(1L))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("source"), col("rem"), col("repeats"))
      .stage()
    // stage 10: packing, closed form per source over planned tokens
    val packed = mixed.groupBy(col("source"))
      .agg(sum(col("repeats") * col("rem")).as("planned"))
      .agg(coalesce(sum(expr(s"(planned + ${seqLen - 1}) div $seqLen")),
          lit(0L)).as("n_seqs"),
        coalesce(sum(col("planned")), lit(0L)).as("tokens"))
    // the attrition report
    val r05 = flags.agg(
        count(lit(1)).as("c0"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("t0"),
        count(when(col("s1"), 1)).as("c1"),
        coalesce(sum(when(col("s1"), col("n_tokens"))), lit(0L)).as("t1"),
        count(when(col("s2"), 1)).as("c2"),
        coalesce(sum(when(col("s2"), col("n_tokens"))), lit(0L)).as("t2"),
        count(when(col("s3"), 1)).as("c3"),
        coalesce(sum(when(col("s3"), col("n_tokens"))), lit(0L)).as("t3"),
        count(when(col("s4"), 1)).as("c4"),
        coalesce(sum(when(col("s4"), col("n_tokens"))), lit(0L)).as("t4"),
        count(when(col("s5"), 1)).as("c5"),
        coalesce(sum(when(col("s5"), col("n_tokens"))), lit(0L)).as("t5"))
      .selectExpr(
        """stack(6,
          |  '00_total',      c0, t0,
          |  '01_url',        c1, t1,
          |  '02_lang',       c2, t2,
          |  '03_quality',    c3, t3,
          |  '04_repetition', c4, t4,
          |  '05_dedup',      c5, t5)
          |AS (stage, n_docs, total_tokens)""".stripMargin)
    def row(stage: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("rem")), lit(0L)).as("total_tokens"))
        .select(lit(stage).as("stage"), col("n_docs"), col("total_tokens"))
    val r9 = mixed.agg(
        count(when(col("repeats") >= 1L, 1)).as("n_docs"),
        coalesce(sum(col("repeats") * col("rem")), lit(0L))
          .as("total_tokens"))
      .select(lit("09_mix").as("stage"), col("n_docs"), col("total_tokens"))
    val r10 = packed
      .select(lit("10_pack").as("stage"), col("n_seqs").as("n_docs"),
        col("tokens").as("total_tokens"))
    r05
      .unionByName(row("06_decontam", s6))
      .unionByName(row("07_dsir", s7))
      .unionByName(row("08_domain_cap", s8))
      .unionByName(r9)
      .unionByName(r10)
      .orderBy(col("stage"))
  }

  /** Oracle of [[curationPipeline]]: every stage's existing SQL twin,
    * recomposed over the same survivor chain. Shared CTEs are
    * MATERIALIZED: DuckDB inlines CTEs per reference by default, and
    * the report reads each survivor stage 2–3 times — inlined, the
    * decontamination chain re-executes per read and the oracle blows
    * the 10 s pre-flight budget (measured 10.8 s → 0.45 s at sf0.01). */
  lazy val curationPipelineSql: String = {
    val n = Dedup.SubstringN
    val gramHash =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(gram, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (acc, c) -> (acc * 31 + c) % 1000000007) % 64""".stripMargin
    s"""WITH u AS (${UrlCuration.withUrlSql}),
       |${UrlCuration.canonSql.replace("canon AS (", "canon AS MATERIALIZED (")},
       |q AS (
       |  SELECT doc_id, n_tokens, keep AS q_keep
       |  FROM ($gopherQualitySql)),
       |rep AS (
       |  SELECT doc_id, top_2_frac, top_3_frac, top_4_frac,
       |    dup_5_frac, dup_6_frac, dup_7_frac, dup_8_frac, dup_9_frac,
       |    dup_10_frac
       |  FROM ($gopherRepetitionSql)),
       |flags0 AS (
       |  SELECT d.doc_id, d.lang, d.source, d.text, q.n_tokens,
       |    d.doc_id = MIN(d.doc_id) OVER (PARTITION BY c.canon_url) AS s1,
       |    d.lang IN ('en', 'de', 'es', 'fr') AS langok,
       |    q.q_keep AS qok,
       |    rep.top_2_frac <= 0.2 AND rep.top_3_frac <= 0.18
       |      AND rep.top_4_frac <= 0.16 AND rep.dup_5_frac <= 0.15
       |      AND rep.dup_6_frac <= 0.14 AND rep.dup_7_frac <= 0.13
       |      AND rep.dup_8_frac <= 0.12 AND rep.dup_9_frac <= 0.11
       |      AND rep.dup_10_frac <= 0.10 AS repok
       |  FROM documents d
       |  JOIN canon c ON c.doc_id = d.doc_id
       |  JOIN q ON q.doc_id = d.doc_id
       |  JOIN rep ON rep.doc_id = d.doc_id),
       |flags AS MATERIALIZED (
       |  SELECT doc_id, lang, source, text, n_tokens, s1,
       |    s1 AND langok AS s2,
       |    s1 AND langok AND qok AS s3,
       |    s1 AND langok AND qok AND repok AS s4,
       |    s1 AND langok AND qok AND repok AND doc_id =
       |      MIN(CASE WHEN s1 AND langok AND qok AND repok THEN doc_id END)
       |        OVER (PARTITION BY text) AS s5,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test
       |  FROM flags0),
       |tr AS (SELECT doc_id, $tokensSql AS tk FROM flags
       |       WHERE s5 AND NOT is_test),
       |te AS (SELECT doc_id, $tokensSql AS tk FROM documents
       |       WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')),
       |banned AS (
       |  SELECT DISTINCT array_to_string(tk[s + 1 : s + $n], ' ') AS gram
       |  FROM te, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |occ AS (
       |  SELECT doc_id, s AS start,
       |    array_to_string(tk[s + 1 : s + $n], ' ') AS gram
       |  FROM tr, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |starts AS (SELECT o.doc_id, o.start FROM occ o JOIN banned USING (gram)),
       |toksx AS (
       |  SELECT doc_id, p AS pos, tk[p + 1] AS tok
       |  FROM tr, unnest(range(0, len(tk))) AS t(p)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = 1 AS c
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN s.start IS NOT NULL THEN 1 ELSE 0 END AS is_start
       |    FROM toksx t LEFT JOIN starts s
       |      ON s.doc_id = t.doc_id AND s.start = t.pos)),
       |clean AS (
       |  SELECT doc_id, COUNT(*) AS n_toks,
       |    CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |    COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
       |      ORDER BY pos), '') AS clean_text
       |  FROM cov GROUP BY doc_id),
       |s6 AS MATERIALIZED (
       |  SELECT cl.doc_id, d.lang, d.source,
       |    CAST(cl.n_toks - cl.n_removed AS BIGINT) AS rem, cl.clean_text
       |  FROM clean cl JOIN documents d ON d.doc_id = cl.doc_id
       |  WHERE cl.n_toks - cl.n_removed >= 1),
       |md AS (SELECT doc_id, lang, $tokensSql AS toks FROM documents),
       |mg AS MATERIALIZED (
       |  SELECT doc_id, lang, $gramHash AS b
       |  FROM (
       |    SELECT doc_id, lang,
       |      unnest(list_transform(generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1])) AS gram
       |    FROM md WHERE len(toks) >= 2)),
       |raw AS (SELECT b, COUNT(*) AS rc FROM mg GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS tc FROM mg WHERE lang = 'en' GROUP BY b),
       |tot AS (SELECT COUNT(*) AS rt,
       |        COUNT(CASE WHEN lang = 'en' THEN 1 END) AS tt FROM mg),
       |sd AS (SELECT doc_id,
       |         list_filter(string_split(clean_text, ' '), t -> t <> '')
       |           AS toks
       |       FROM s6),
       |sg AS (
       |  SELECT doc_id, $gramHash AS b
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1])) AS gram
       |    FROM sd WHERE len(toks) >= 2)),
       |sc AS (
       |  SELECT doc_id,
       |    (CAST(1000000 AS HUGEINT) * (COALESCE(tc, 0) + 1) * (rt + 64))
       |      // ((COALESCE(rc, 0) + 1) * (tt + 64)) AS term
       |  FROM sg
       |  LEFT JOIN raw USING (b)
       |  LEFT JOIN tgt USING (b)
       |  CROSS JOIN tot),
       |s7sel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, SUM(term) AS ssum, COUNT(*) AS ng
       |    FROM sc GROUP BY doc_id)
       |  WHERE CAST(ssum // ng AS BIGINT) >= 1000000),
       |s7 AS MATERIALIZED (SELECT s6.* FROM s6 JOIN s7sel USING (doc_id)),
       |dcp AS (
       |  SELECT s7.doc_id, s7.lang, s7.source, s7.rem,
       |    ROW_NUMBER() OVER (PARTITION BY c.domain
       |      ORDER BY md5(CAST(s7.doc_id AS VARCHAR)), s7.doc_id) AS rk
       |  FROM s7 JOIN canon c ON c.doc_id = s7.doc_id),
       |s8 AS MATERIALIZED (SELECT doc_id, lang, source, rem FROM dcp
       |       WHERE rk <= ${UrlCuration.DomainCapK}),
       |w(lang, w_bp) AS (VALUES
       |  ('de', 1500), ('en', 4000), ('es', 1000), ('fr', 1000), ('zh', 2500)),
       |pool AS (SELECT lang, SUM(rem) AS pool FROM s8 GROUP BY lang),
       |tg2 AS (SELECT pool.lang, pool.pool, w.w_bp * $MixBudgetDefault // 10000 AS target
       |        FROM pool JOIN w ON pool.lang = w.lang),
       |cb AS (
       |  SELECT s8.*, CAST(COALESCE(SUM(rem) OVER (PARTITION BY lang
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before
       |  FROM s8),
       |mixd AS MATERIALIZED (
       |  SELECT cb.doc_id, cb.source, cb.rem,
       |    tg2.target // tg2.pool +
       |      CASE WHEN cb.cum_before < tg2.target % tg2.pool
       |           THEN 1 ELSE 0 END AS repeats
       |  FROM cb JOIN tg2 ON cb.lang = tg2.lang),
       |pk AS (SELECT source, SUM(repeats * rem) AS planned
       |       FROM mixd GROUP BY source),
       |fa AS (
       |  SELECT
       |    CAST(COUNT(*) AS BIGINT) AS c0,
       |    CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t0,
       |    CAST(COUNT(CASE WHEN s1 THEN 1 END) AS BIGINT) AS c1,
       |    CAST(COALESCE(SUM(CASE WHEN s1 THEN n_tokens END), 0) AS BIGINT) AS t1,
       |    CAST(COUNT(CASE WHEN s2 THEN 1 END) AS BIGINT) AS c2,
       |    CAST(COALESCE(SUM(CASE WHEN s2 THEN n_tokens END), 0) AS BIGINT) AS t2,
       |    CAST(COUNT(CASE WHEN s3 THEN 1 END) AS BIGINT) AS c3,
       |    CAST(COALESCE(SUM(CASE WHEN s3 THEN n_tokens END), 0) AS BIGINT) AS t3,
       |    CAST(COUNT(CASE WHEN s4 THEN 1 END) AS BIGINT) AS c4,
       |    CAST(COALESCE(SUM(CASE WHEN s4 THEN n_tokens END), 0) AS BIGINT) AS t4,
       |    CAST(COUNT(CASE WHEN s5 THEN 1 END) AS BIGINT) AS c5,
       |    CAST(COALESCE(SUM(CASE WHEN s5 THEN n_tokens END), 0) AS BIGINT) AS t5
       |  FROM flags),
       |r6 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
       |         CAST(COALESCE(SUM(rem), 0) AS BIGINT) AS t FROM s6),
       |r7 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
       |         CAST(COALESCE(SUM(rem), 0) AS BIGINT) AS t FROM s7),
       |r8 AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
       |         CAST(COALESCE(SUM(rem), 0) AS BIGINT) AS t FROM s8),
       |r9 AS (SELECT CAST(COUNT(CASE WHEN repeats >= 1 THEN 1 END) AS BIGINT)
       |           AS c,
       |         CAST(COALESCE(SUM(repeats * rem), 0) AS BIGINT) AS t
       |       FROM mixd),
       |r10 AS (SELECT CAST(COALESCE(SUM((planned + ${Corpus.SeqLenDefault - 1}) // ${Corpus.SeqLenDefault}), 0) AS BIGINT)
       |            AS c,
       |          CAST(COALESCE(SUM(planned), 0) AS BIGINT) AS t FROM pk)
       |SELECT stage, n_docs, total_tokens FROM (
       |  SELECT '00_total' AS stage, c0 AS n_docs, t0 AS total_tokens FROM fa
       |  UNION ALL SELECT '01_url', c1, t1 FROM fa
       |  UNION ALL SELECT '02_lang', c2, t2 FROM fa
       |  UNION ALL SELECT '03_quality', c3, t3 FROM fa
       |  UNION ALL SELECT '04_repetition', c4, t4 FROM fa
       |  UNION ALL SELECT '05_dedup', c5, t5 FROM fa
       |  UNION ALL SELECT '06_decontam', c, t FROM r6
       |  UNION ALL SELECT '07_dsir', c, t FROM r7
       |  UNION ALL SELECT '08_domain_cap', c, t FROM r8
       |  UNION ALL SELECT '09_mix', c, t FROM r9
       |  UNION ALL SELECT '10_pack', c, t FROM r10)
       |ORDER BY stage""".stripMargin
  }

  /** The composed pretraining-corpus pipeline — the end-to-end user
    * story, not a single operator: normalize text (tag strip + whitespace
    * collapse) → token-count quality filter → exact content dedup (keep
    * the lowest doc_id per distinct cleaned text) → deterministic
    * md5-bucket train/val/test split → per-(lang, split) corpus stats.
    * Every stage is one of this library's gate-checked operators; the
    * composition itself is what this entry hash-checks. All stages are
    * narrow or single-shuffle: clean/filter/split are map-side, dedup is
    * one hash aggregation + a semi join, stats one partial-agg shuffle. */
  def pretrainPipeline(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = graft.Tables.documents(spark, dir)
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(col("text"), "<[^>]*>", " "), "\\s+", " ")))
      .withColumn("n_tokens",
        size(tokens(col("clean"))))
      .filter(col("n_tokens") >= 30)
    val keep = cleaned.groupBy(col("clean"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    cleaned.join(keep, Seq("doc_id"), "left_semi")
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("bucket").isin("0", "1"), lit("test"))
          .when(col("bucket").isin("2", "3"), lit("val"))
          .otherwise(lit("train")))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") /
          count(lit(1)).cast("double")).as("mean_tokens"))
      .orderBy(col("lang"), col("split"))
  }

  val pretrainPipelineSql: String =
    """WITH c AS (
      |  SELECT doc_id, lang,
      |    trim(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
      |         '\s+', ' ', 'g')) AS clean
      |  FROM documents),
      |q AS (
      |  SELECT doc_id, lang, clean,
      |    len(list_filter(string_split(clean, ' '), x -> x <> '')) AS n_tokens
      |  FROM c
      |  WHERE len(list_filter(string_split(clean, ' '), x -> x <> '')) >= 30),
      |k AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY clean),
      |kept AS (SELECT q.* FROM q JOIN k USING (doc_id)),
      |s AS (SELECT lang,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
      |       ELSE 'train' END AS split,
      |  n_tokens FROM kept)
      |SELECT lang, split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
      |FROM s
      |GROUP BY lang, split
      |ORDER BY lang, split""".stripMargin

  /** PII redaction — the scrub pass every training corpus runs before
    * anything else sees the text. The fixture prose carries no PII, so
    * the query deterministically PLANTS it (an email and a phone-shaped
    * number derived from doc_id appended to the text), then removes it:
    * emails first (they contain digits), then digit runs. Patterns stay
    * inside the regex subset Java and RE2 interpret identically
    * (character classes + quantifiers — no backrefs/lookarounds), which
    * is also the subset that scales: RE2-safe patterns are linear-time,
    * so the scrub is scan-bound at 100 TB. The redaction count comes
    * from the same patterns, so over/under-matching fails the gate. */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
    val numPat = "[0-9]+"
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com tel 555-"),
      (col("doc_id") % 10000).cast("string"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), planted.as("raw"))
      .withColumn("no_email", regexp_replace(col("raw"), emailPat, "<email>"))
      .withColumn("redacted", regexp_replace(col("no_email"), numPat, "<num>"))
      .withColumn("n_redactions",
        (size(regexp_extract_all(col("raw"), lit(emailPat), lit(0))) +
          size(regexp_extract_all(col("no_email"), lit(numPat), lit(0)))).cast("long"))
      .select(col("doc_id"), col("redacted"), col("n_redactions"))
      .orderBy(col("doc_id"))
  }

  val redactSql: String =
    """SELECT doc_id, redacted,
      |  CAST(len(regexp_extract_all(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+'))
      |     + len(regexp_extract_all(no_email, '[0-9]+')) AS BIGINT) AS n_redactions
      |FROM (
      |  SELECT doc_id, raw, no_email,
      |    regexp_replace(no_email, '[0-9]+', '<num>', 'g') AS redacted
      |  FROM (
      |    SELECT doc_id, raw,
      |      regexp_replace(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<email>', 'g')
      |        AS no_email
      |    FROM (
      |      SELECT doc_id,
      |        text || ' contact user' || doc_id || '@example.com tel 555-'
      |             || (doc_id % 10000) AS raw
      |      FROM documents)))
      |ORDER BY doc_id""".stripMargin

  /** Inverted index build — the IR primitive behind every "which docs
    * contain this token" lookup: per token, the document frequency and
    * the first 20 postings (sorted doc_ids, comma-joined for the
    * comparator). One explode + one hash aggregation, shuffling the
    * distinct (token, doc) pairs once; postings truncate per group, so
    * no group's state exceeds the cap — at 100 TB the full posting lists
    * would go to per-token files, same plan shape. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(slice(array_sort(collect_list(col("doc_id"))), 1, 20),
            x => x.cast("string")),
          ",").as("postings"))
      .orderBy(col("token"))

  val invertedIndexSql: String =
    s"""SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
       |  array_to_string(
       |    list_transform((list(doc_id ORDER BY doc_id))[1:20],
       |                   x -> CAST(x AS VARCHAR)), ',') AS postings
       |FROM (SELECT DISTINCT doc_id, unnest(list_distinct($tokensSql)) AS token
       |      FROM documents)
       |GROUP BY token
       |ORDER BY token""".stripMargin

  /** CCNet-style language-model quality scoring (Wenzek et al., LREC
    * 2020): score every document against a bigram table trained on the
    * TRAIN split of the deterministic md5 split (the same rule as
    * [[detSplit]] — training on a split is what gives held-out documents
    * genuine unseen mass; a model trained on the whole corpus has seen
    * every bigram by construction). Per document:
    *
    *   - `sum_cnt`      Σ over its bigram positions of the train-corpus
    *                    count of that bigram (integer-exact),
    *   - `n_unseen`     positions whose bigram never occurs in train,
    *   - `familiarity`  sum_cnt / n_bigrams,
    *   - `unseen_frac`  n_unseen / n_bigrams.
    *
    * This is the integer-exact core of perplexity filtering — kept
    * log-free ON PURPOSE (same reason tfidf is ratio-form: ln is not
    * bit-reproducible across engines, so a log-space score could never
    * sit behind the hash gate; the log-space perplexity is a monotone map
    * of these counts a consumer applies downstream). The single divisions
    * are one IEEE op each, bitwise identical in both engines.
    *
    * Scale shape: bigram explode is a narrow map; the count table
    * aggregates to O(distinct bigrams); the scoring join is a
    * bigram-keyed equi-join where a stop-bigram ("of the") is millions of
    * probe rows against ONE build row — hash-join-friendly skew, and AQE
    * splits the probe side if a key's partition outgrows the rest.
    * Documents with fewer than two tokens have no bigram distribution and
    * are dropped (mirrored in the oracle). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docBigrams = Tables.documents(spark, dir)
      .withColumn("bucket",
        substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("bucket").isin("0", "1"), lit("test"))
          .when(col("bucket").isin("2", "3"), lit("val"))
          .otherwise(lit("train")))
      .select(col("doc_id"), col("split"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("split"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))
    val counts = docBigrams.filter(col("split") === "train")
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
    docBigrams.join(counts, Seq("bigram"), "left_outer")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("cnt"), lit(0L))).as("sum_cnt"),
        sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_unseen"))
      .withColumn("familiarity",
        col("sum_cnt").cast("double") / col("n_bigrams").cast("double"))
      .withColumn("unseen_frac",
        col("n_unseen").cast("double") / col("n_bigrams").cast("double"))
      .orderBy(col("doc_id"))
  }

  val lmScoreSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
       |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
       |         ELSE 'train' END AS split,
       |    $tokensSql AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, split,
       |    unnest(list_transform(generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
       |  FROM d WHERE len(toks) >= 2),
       |c AS (SELECT bigram, COUNT(*) AS cnt FROM b
       |      WHERE split = 'train' GROUP BY bigram)
       |SELECT b.doc_id, b.split,
       |  COUNT(*) AS n_bigrams,
       |  CAST(SUM(COALESCE(c.cnt, 0)) AS BIGINT) AS sum_cnt,
       |  CAST(SUM(CASE WHEN c.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       |  CAST(SUM(COALESCE(c.cnt, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS familiarity,
       |  CAST(SUM(CASE WHEN c.cnt IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS unseen_frac
       |FROM b LEFT JOIN c ON b.bigram = c.bigram
       |GROUP BY b.doc_id, b.split
       |ORDER BY b.doc_id""".stripMargin

  /** BM25 top-k retrieval over the corpus the inverted index indexes —
    * the consumer [[invertedIndex]] was missing (VERDICT r11 #3): given a
    * query of terms, rank documents by Σ_t idf(t) · tf-saturation(t, d).
    * Okapi BM25 with k1 = 3/2, b = 3/4, the plus-style positive idf
    * (N − df + ½)/(df + ½).
    *
    * INTEGER-EXACT ratio form (the `text_tfidf`/`text_lm_score`
    * precedent — no `ln`, whose bits differ across engines, ever enters
    * the gate): with N docs, T total tokens (avgdl = T/N), clearing
    * denominators turns the per-term score into a ratio of integers,
    *
    *   score_t = 20·T·tf·(2N − 2df + 1)
    *           / ((2df + 1)·(8·T·tf + 3·T + 9·dl·N)),
    *
    * which, scaled by 10⁶ and floor-divided, is one exact integer per
    * (term, doc) — Spark computes the numerator in DECIMAL(38,0), DuckDB
    * in HUGEINT, `div`/`//` both truncate toward zero on positives, and
    * every factor is positive (df ≤ N keeps the idf numerator > 0).
    * Per-doc scores are then integer SUMS — order-insensitive, unlike
    * double addition — so the hash gate covers scores AND ranks. The
    * log-space BM25 is a monotone per-term map of these same counts; a
    * consumer that wants it applies `ln` downstream.
    *
    * The query set derives deterministically from the corpus: tokens
    * ranked 6–20 by (df DESC, token), grouped in threes → five 3-term
    * queries (the top-5 stopword-ish tokens are skipped — they match
    * every document and only test the saturation term).
    *
    * Scale shape: tf/df are the inverted-index aggregations (one shuffle
    * of distinct (token, doc) pairs, map-side partial); the query-term
    * table (15 rows) and the corpus stats (1 row) broadcast; scoring is
    * a broadcast-join scan of the tf table; per-query top-k goes through
    * the bounded-heap [[graft.functions.TopKAggregator]], so the final
    * shuffle ships O(queries · k) rows, never a per-query sort of all
    * scored docs — integer scores < 2⁵³ are exact in the heap's double.
    * df ranking uses a global top-20 (`TakeOrderedAndProject`, per-
    * partition heads + driver merge of 20·P rows), not a one-reducer
    * window over the vocabulary. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(col("toks")).cast("long")).as("t"))
    val tf = docs.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    bm25Score(tf, dl, stats)
  }

  /** [[bm25]] over a PERSISTED index — the train-once / search-many form
    * (the IVF/pair-artifact precedent): the corpus-scan aggregates (the
    * postings-with-frequencies table, i.e. the inverted index in its
    * scoring orientation; per-doc lengths; the 1-row corpus stats) build
    * once per (corpus, session) through ArtifactCache and every later
    * query pays ONLY the scoring join + heap — the posture a retrieval
    * service actually runs. Same result, same oracle as `text_bm25`. */
  def bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    def art(kind: String)(build: String => Unit): DataFrame =
      graft.tools.ArtifactCache.parquet(spark, dir, kind)(build)
    val tf = art("bm25_tf") { p =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(p)
    }
    val dl = art("bm25_dl") { p =>
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("dl"))
        .write.mode("overwrite").parquet(p)
    }
    val stats = art("bm25_stats") { p =>
      Tables.documents(spark, dir)
        .select(size(tokens(col("text"))).cast("long").as("len"))
        .agg(count(lit(1)).as("n"), sum(col("len")).as("t"))
        .write.mode("overwrite").parquet(p)
    }
    bm25Score(tf, dl, stats)
  }

  /** INCREMENTALLY MAINTAINED BM25 index: history (doc_id < splitId)
    * builds the four index artifacts once; a delta ingest pays only the
    * delta docs' aggregations plus O(|delta vocabulary|) merges — the
    * postings/length tables append disjoint doc rows, document
    * frequencies merge by full-outer SUM (new tokens enter, existing
    * tokens increment), and the 1-row stats add elementwise. The gate's
    * claim is the incremental one: scoring over the MAINTAINED index
    * equals the full-corpus rebuild (same oracle as `text_bm25`) — a
    * df merge that drops a token, double-counts a doc, or misses the
    * stats update breaks the hash. Append-only corpus assumed (the
    * repo's incremental contract; deletions would need tombstones). */
  def bm25Incremental(spark: SparkSession, dir: String,
                      splitId: Long = 400L): DataFrame = {
    def art(kind: String)(build: String => Unit): DataFrame =
      graft.tools.ArtifactCache.parquet(spark, dir,
        s"bm25h_${kind}_s$splitId")(build)
    def frames(docsDf: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
      val toks = docsDf.select(col("doc_id"), tokens(col("text")).as("toks"))
      val tf = toks.select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      val dl = toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"))
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val stats = toks.agg(count(lit(1)).as("n"),
        sum(size(col("toks")).cast("long")).as("t"))
      (tf, dl, df, stats)
    }
    val all = Tables.documents(spark, dir)
    val (hTf, hDl, hDf, hStats) = {
      val hist = all.filter(col("doc_id") < splitId)
      val (a, b, c, d) = frames(hist)
      (art("tf") { p => a.write.mode("overwrite").parquet(p) },
        art("dl") { p => b.write.mode("overwrite").parquet(p) },
        art("df") { p => c.write.mode("overwrite").parquet(p) },
        art("stats") { p => d.write.mode("overwrite").parquet(p) })
    }
    val (dTf, dDl, dDf, dStats) = frames(all.filter(col("doc_id") >= splitId))
    val tf = hTf.unionByName(dTf)             // disjoint doc_id keys
    val dl = hDl.unionByName(dDl)
    val df = hDf.withColumnRenamed("df", "hdf")
      .join(dDf.withColumnRenamed("df", "ddf"), Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("hdf"), lit(0L)) + coalesce(col("ddf"), lit(0L))).as("df"))
    val stats = hStats.select(col("n").as("hn"), col("t").as("ht"))
      .crossJoin(dStats.select(col("n").as("dn"), col("t").as("dt")))
      .select((col("hn") + col("dn")).as("n"),
        (coalesce(col("ht"), lit(0L)) + coalesce(col("dt"), lit(0L))).as("t"))
    bm25Score(tf, dl, stats, Some(df))
  }

  /** Shared scoring tail of [[bm25]] / [[bm25Indexed]] /
    * [[bm25Incremental]]: query-term derivation from the df table
    * (derived from tf unless a maintained one is supplied),
    * integer-exact contribs, bounded-heap top-k. */
  private def bm25Score(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                        dfOpt: Option[DataFrame] = None): DataFrame = {
    val k = 10
    val dfTbl = dfOpt.getOrElse(
      tf.groupBy(col("token")).agg(count(lit(1)).as("df")))
    // query terms = df ranks 6..20: the top-20 comes back as a
    // TakeOrderedAndProject (never a global sort) and the 15-row rank
    // arithmetic folds on the DRIVER into a literal frame — the former
    // post-limit row_number window was bounded (20 rows) but its
    // unpartitioned WindowExec warned on every run AND its subtree
    // (including the df aggregation) was duplicated under both perDoc
    // references; a k-bounded collect removes both.
    val sp = tf.sparkSession
    import sp.implicits._
    val qt = dfTbl.orderBy(col("df").desc, col("token")).limit(20)
      .collect().iterator.zipWithIndex
      .collect { case (r, i) if i + 1 >= 6 =>
        ((i + 1 - 6) / 3, r.getString(0), r.getLong(1))
      }.toSeq.toDF("query_id", "token", "df")
    // merge-hint the doc-length join: Catalyst's ratio estimate sees the
    // 15-row qt join and sizes the candidate-postings frame as tiny, so
    // it would BROADCAST it — correct at fixture stats, wrong at corpus
    // scale where 15 df-ranked terms can match a large share of all
    // postings. SMJ keys both sides by doc_id and survives any size.
    val scored = tf.join(broadcast(qt), Seq("token"))
      .join(dl.hint("merge"), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib", expr(
        """(CAST(20000000 AS DECIMAL(38,0)) * t * tf * (2*n - 2*df + 1))
          | div ((2*df + 1) * (8*t*tf + 3*t + 9*dl*n))""".stripMargin))
    val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("n_hit"))
    val heap = graft.functions.TopKAggregator.topkUdaf(k)
    val top = perDoc
      .groupBy(col("query_id"))
      .agg(heap(col("doc_id"), col("score").cast("double")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("s.n_id").as("doc_id"))
    perDoc.join(broadcast(top), Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score"), col("n_hit"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The BM25 oracle's CTE block (through `rk`) — shared verbatim by
    * [[bm25Sql]] and the hybrid-retrieval oracle so the lexical leg of
    * the fusion can never drift from the `text_bm25` gate. */
  private val bm25CteSql: String =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS toks FROM documents),
       |s AS (SELECT COUNT(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS t FROM d),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf
       |       FROM (SELECT doc_id, unnest(toks) AS token FROM d)
       |       GROUP BY doc_id, token),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |qt AS (SELECT CAST((rnk - 6) // 3 AS INT) AS query_id, token, df
       |       FROM (SELECT token, df,
       |               ROW_NUMBER() OVER (ORDER BY df DESC, token) AS rnk
       |             FROM df)
       |       WHERE rnk BETWEEN 6 AND 20),
       |scored AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    (CAST(20000000 AS HUGEINT) * s.t * tf.tf * (2*s.n - 2*qt.df + 1))
       |      // CAST((2*qt.df + 1) * (8*s.t*tf.tf + 3*s.t + 9*dl.dl*s.n) AS HUGEINT)
       |      AS contrib
       |  FROM qt JOIN tf ON tf.token = qt.token
       |          JOIN dl ON dl.doc_id = tf.doc_id
       |          CROSS JOIN s),
       |agg AS (SELECT query_id, doc_id, CAST(SUM(contrib) AS BIGINT) AS score,
       |          COUNT(*) AS n_hit
       |        FROM scored GROUP BY query_id, doc_id),
       |rk AS (SELECT query_id, doc_id, score, n_hit,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY score DESC, doc_id) AS rank
       |       FROM agg)""".stripMargin

  val bm25Sql: String =
    s"""$bm25CteSql
       |SELECT query_id, rank, doc_id, score, n_hit
       |FROM rk WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Hybrid retrieval (lexical BM25 ∪ dense ANN, reciprocal-rank fusion)
  // ---------------------------------------------------------------------

  /** RRF's standard constant (Cormack/Clarke/Büttcher, SIGIR 2009). */
  val RrfK = 60
  /** lcm(RrfK+1 .. RrfK+10): every reciprocal 1/(RrfK+r) at ranks the
    * fusion can see becomes the EXACT integer RrfL/(RrfK+r) — the
    * bm25-contrib trick applied to rank fusion, so fused scores are
    * integer sums and the gate covers scores AND fused ranks. Fits
    * comfortably in an int64 (≈1.4×10¹⁴; a fused score is ≤ 2·RrfL/61). */
  val RrfL: Long = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (RrfK + 1L to RrfK + 10L).foldLeft(1L)((l, x) => l / gcd(l, x) * x)
  }

  /** HYBRID retrieval — the fusion layer production search actually
    * serves (lexical recall + semantic recall beat either alone): for
    * each of the five BM25 term queries, pair the dense query vector
    * with the same index (vec_id = query_id), take the lexical top-10
    * ([[bm25Indexed]] — the persisted-index form) and the dense top-k
    * ([[Similarity.annTopK]] — the planner-dispatched tier, exact on
    * fixture corpora by the crossover), and fuse by reciprocal-rank:
    * rrf(d) = Σ_legs RrfL div (RrfK + rank_leg(d)). Integer-exact both
    * sides ([[RrfL]]), so the oracle replays the whole fusion bitwise.
    *
    * Scale shape: both legs arrive k-bounded (O(queries·k) rows — the
    * heavy lifting already happened inside the tiered, index-backed
    * legs), fusion is one full-outer join on (query_id, doc_id) plus a
    * per-query window over ≤ k+K rows. The join key coalesce keeps
    * docs found by only one leg. */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Indexed(spark, dir)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = Similarity.annTopK(spark, dir)
      .filter(col("q_id") < 5)
      .select(col("q_id").cast("int").as("query_id"),
        col("n_id").as("doc_id"), col("rank").as("dense_rank"))
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"$RrfL div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"$RrfL div ($RrfK + dense_rank)"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("dense_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle of [[hybridRetrieval]]: the BM25 CTE block verbatim, the
    * dense leg as the brute-force chain (what annTopK must return below
    * the crossover), and the same integer RRF. */
  lazy val hybridRetrievalSql: String = {
    val cos = Dedup.cosineSql("q.embedding", "n.embedding")
    s"""$bm25CteSql,
       |lex AS (SELECT query_id, doc_id, rank AS lex_rank
       |        FROM rk WHERE rank <= 10),
       |dense_all AS (
       |  SELECT CAST(q.vec_id AS INT) AS query_id, n.vec_id AS doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                       ORDER BY $cos DESC, n.vec_id) AS dense_rank
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < 5),
       |dense AS (SELECT query_id, doc_id, dense_rank FROM dense_all
       |          WHERE dense_rank <= ${Similarity.K}),
       |fused AS (
       |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
       |         COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |         l.lex_rank, v.dense_rank,
       |         COALESCE($RrfL // ($RrfK + l.lex_rank), 0)
       |           + COALESCE($RrfL // ($RrfK + v.dense_rank), 0) AS rrf
       |  FROM lex l FULL OUTER JOIN dense v
       |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
       |SELECT query_id, rank, doc_id, rrf, lex_rank, dense_rank FROM (
       |  SELECT fused.*, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS rank FROM fused) t
       |WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** CCNet-style QUALITY BUCKETING (Wenzek et al., LREC 2020 §4.3): per
    * language, rank documents by the LM familiarity score
    * ([[lmScore]]'s integer-exact core) and split the ranking into
    * head / middle / tail thirds — the standard pre-training corpus
    * partition (train on head+middle, drop or down-weight tail).
    * Bucket assignment is pure integer arithmetic over the rank,
    * `(3·(rank−1)) div n_lang`, so head gets the extra docs on uneven
    * splits in BOTH engines identically; ranking order is (familiarity
    * DESC, doc_id), and familiarity is a single IEEE division of two
    * integer sums — bitwise identical across engines (the lmScore
    * precedent), so the rank is too.
    *
    * Scale shape: everything through the familiarity score is lmScore's
    * plan (bigram-keyed equi-joins, O(distinct-bigram) shuffles); the
    * ranking is one window per language partition — at 100 TB a
    * language is large but the window carries only (doc_id, two longs),
    * and a skewed dominant language is exactly the case the two-level
    * rank machinery in `ops/TwoLevel` handles if it ever bottlenecks. */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("familiarity").desc, col("doc_id"))
    val wl = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    lmScore(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("n_lang", count(lit(1)).over(wl))
      .withColumn("bucket",
        expr("CAST((3 * (rnk - 1)) div n_lang AS INT)"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("sum_cnt"),
        col("familiarity"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** [[qualityBuckets]]' (doc_id → phase bucket) projection as a
    * train-once session artifact — the FROZEN competence signal the
    * curriculum consumers (corpus_curriculum, pipeline_dataloader_
    * curriculum[_resume]) join against. Production curricula freeze the
    * difficulty model before ordering (Platanios et al., NAACL 2019 —
    * competence functions are precomputed, not re-fit per batch), so the
    * consumers' timed cost is the ORDERING machinery (TwoLevel rank +
    * offset fold), while the bigram-LM model build stays visible as the
    * quality_phases.build phase (the bm25Indexed / IVF-quantizer
    * precedent). `text_quality_buckets` / `text_lm_score` keep gating
    * the raw computation itself. */
  def qualityPhases(spark: SparkSession, dir: String): DataFrame =
    graft.tools.ArtifactCache.parquet(spark, dir, "quality_phases") { p =>
      qualityBuckets(spark, dir).select(col("doc_id"), col("bucket"))
        .write.mode("overwrite").parquet(p)
    }

  val qualityBucketsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') THEN 'test'
       |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('2','3') THEN 'val'
       |         ELSE 'train' END AS split,
       |    $tokensSql AS toks
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, split,
       |    unnest(list_transform(generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1])) AS bigram
       |  FROM d WHERE len(toks) >= 2),
       |c AS (SELECT bigram, COUNT(*) AS cnt FROM b
       |      WHERE split = 'train' GROUP BY bigram),
       |lm AS (
       |  SELECT b.doc_id,
       |    COUNT(*) AS n_bigrams,
       |    CAST(SUM(COALESCE(c.cnt, 0)) AS BIGINT) AS sum_cnt,
       |    CAST(SUM(COALESCE(c.cnt, 0)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
       |      AS familiarity
       |  FROM b LEFT JOIN c ON b.bigram = c.bigram
       |  GROUP BY b.doc_id),
       |r AS (
       |  SELECT lm.doc_id, doc.lang, lm.n_bigrams, lm.sum_cnt,
       |    lm.familiarity,
       |    ROW_NUMBER() OVER (PARTITION BY doc.lang
       |      ORDER BY lm.familiarity DESC, lm.doc_id) AS rnk,
       |    COUNT(*) OVER (PARTITION BY doc.lang) AS n_lang
       |  FROM lm JOIN documents doc ON doc.doc_id = lm.doc_id)
       |SELECT doc_id, lang, n_bigrams, sum_cnt, familiarity,
       |  CAST((3 * (rnk - 1)) // n_lang AS INT) AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_buckets" -> (qualityBuckets _),
    "text_bm25"        -> (bm25 _),
    "text_bm25_indexed" -> (bm25Indexed _),
    "text_bm25_incr"   -> ((s: SparkSession, d: String) => bm25Incremental(s, d)),
    "text_hybrid_retrieval" -> (hybridRetrieval _),
    "text_lm_score"    -> (lmScore _),
    "text_inverted_index" -> (invertedIndex _),
    "text_redact"      -> (redact _),
    "pipeline_pretrain" -> (pretrainPipeline _),
    "text_rep_ratio"   -> (repRatio _),
    "text_gopher_rep"  -> (gopherRepetition _),
    "text_gopher_quality" -> (gopherQuality _),
    "text_c4_filter"   -> (c4Filter _),
    "pipeline_fineweb" -> (finewebPipeline _),
    "pipeline_curation" -> ((s: SparkSession, d: String) => curationPipeline(s, d)),
    "pipeline_fineweb_stream_late" -> ((s: SparkSession, d: String) => finewebStreamLate(s, d)),
    "pipeline_fineweb_stream" ->
      ((s: SparkSession, d: String) => finewebStream(s, d)),
    "text_dsir"        -> (dsirSelect _),
    "text_dsir_stream" -> ((s: SparkSession, d: String) => dsirStream(s, d)),
    "text_det_split"   -> (detSplit _),
    "text_clean"       -> (textClean _),
    "text_wordcount"   -> (wordCount _),
    "text_doc_stats"   -> (docStats _),
    "text_quality"     -> (qualityScore _),
    "text_bigrams"     -> (bigrams _),
    "text_fingerprint" -> (fingerprint _),
    "text_langid"      -> (langId _),
    "text_tfidf"       -> (tfidf _),
  )

  val oracles: Map[String, String] = Map(
    "text_quality_buckets" -> qualityBucketsSql,
    "text_bm25"        -> bm25Sql,
    "text_bm25_indexed" -> bm25Sql,
    "text_bm25_incr"   -> bm25Sql,
    "text_hybrid_retrieval" -> hybridRetrievalSql,
    "text_lm_score"    -> lmScoreSql,
    "text_inverted_index" -> invertedIndexSql,
    "text_redact"      -> redactSql,
    "pipeline_pretrain" -> pretrainPipelineSql,
    "text_rep_ratio"   -> repRatioSql,
    "text_gopher_rep"  -> gopherRepetitionSql,
    "text_gopher_quality" -> gopherQualitySql,
    "text_c4_filter"   -> c4FilterSql,
    "pipeline_fineweb" -> finewebPipelineSql,
    "pipeline_curation" -> curationPipelineSql,
    "pipeline_fineweb_stream_late" -> finewebStreamLateSql,
    // Streaming twin shares the batch oracle: id-contiguous batches give
    // prefix-closure, so the folded winner logs must reproduce the batch
    // funnel's attrition counts exactly.
    "pipeline_fineweb_stream" -> finewebPipelineSql,
    "text_dsir"        -> dsirSelectSql,
    // frozen-model streaming twin: model trained on the full corpus,
    // scoring is a pure per-doc function — fold == batch unconditionally
    "text_dsir_stream" -> dsirSelectSql,
    "text_det_split"   -> detSplitSql,
    "text_clean"       -> textCleanSql,
    "text_wordcount"   -> wordCountSql,
    "text_doc_stats"   -> docStatsSql,
    "text_quality"     -> qualityScoreSql,
    "text_bigrams"     -> bigramsSql,
    "text_fingerprint" -> fingerprintSql,
    "text_langid"      -> langIdSql,
    "text_tfidf"       -> tfidfSql,
  )
}

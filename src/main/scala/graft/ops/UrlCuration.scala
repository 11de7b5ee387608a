package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tools.{LogState, StateCache}
import graft.tools.Stage._

/** URL/domain-level curation — the stage real web pipelines run BEFORE
  * any text pass (VERDICT r13 #5): canonicalize the URL, exact-dedup on
  * the canonical form, cap documents per registrable domain. FineWeb
  * and CCNet both do URL-level dedup ahead of MinHash; domain caps are
  * the standard anti-SEO-farm guard.
  *
  * The `documents` fixture has no URL column, so each query PLANTS a
  * deterministic multi-domain column from `doc_id` — identically in
  * Spark ([[plantedUrl]]) and the DuckDB oracle ([[plantedUrlSql]]).
  * Every 4 consecutive docs form a group sharing one canonical URL but
  * differing in junk (scheme/host case, `www.`, default `:443` port,
  * tracking params in varying order, fragments, trailing slash), so
  * canonicalization is load-bearing for the dedup answer: groups
  * collapse only if every rule fires correctly. 7 planted domains
  * (`site0..site6.example.com`) give the domain cap real strata.
  *
  * Scale shape: canonicalization is a compiled per-row kernel
  * ([[graft.functions.UrlKernels]] — no shuffle); URL dedup groups on
  * the 128-bit md5 of the canonical form (16 B/doc shuffle, the
  * Dedup.exact discipline, no URL strings in the exchange); the domain
  * cap is the TwoLevel md5-bucket rank (per-stratum partial ranks +
  * broadcast prefix counts — no global sort, no unpartitioned window),
  * exactly the corpus_balance pattern.
  */
object UrlCuration {

  /** Cap used by [[domainCap]] — documents kept per domain. */
  val DomainCapK = 10

  /** Planted URL column (Spark side). Group g = doc_id div 4; the four
    * members differ only in canonicalization-removable junk. */
  private[ops] def plantedUrl: Column = {
    val g = expr("CAST(floor(doc_id / 4.0) AS BIGINT)")
    val gs = g.cast("string")
    concat(
      lit("HTTPS://"),
      when(col("doc_id") % 2 === 0, lit("www.")).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, lit("Site")).otherwise(lit("site")),
      (g % 7).cast("string"),
      lit(".Example.COM"),
      when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/a/"), gs,
      when(col("doc_id") % 2 === 1, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit("?utm_campaign=x&id="), gs, lit("&ref_src=tw")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("?id="), gs, lit("&utm_source=feed")))
        .when(col("doc_id") % 4 === 2, concat(lit("?id="), gs))
        .otherwise(concat(lit("?gclid=abc&id="), gs)),
      when(col("doc_id") % 3 === 1,
        concat(lit("#s"), col("doc_id").cast("string")))
        .otherwise(lit("")))
  }

  /** The identical planted column in DuckDB SQL (`g` must be provided by
    * the enclosing query as `CAST(floor(doc_id / 4.0) AS BIGINT)`). */
  private val plantedUrlSql: String =
    """'HTTPS://' ||
      |      CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END ||
      |      CASE WHEN doc_id % 3 = 0 THEN 'Site' ELSE 'site' END ||
      |      CAST(g % 7 AS VARCHAR) || '.Example.COM' ||
      |      CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
      |      '/a/' || CAST(g AS VARCHAR) ||
      |      CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END ||
      |      CASE WHEN doc_id % 4 = 0
      |        THEN '?utm_campaign=x&id=' || CAST(g AS VARCHAR) || '&ref_src=tw'
      |        WHEN doc_id % 4 = 1
      |        THEN '?id=' || CAST(g AS VARCHAR) || '&utm_source=feed'
      |        WHEN doc_id % 4 = 2 THEN '?id=' || CAST(g AS VARCHAR)
      |        ELSE '?gclid=abc&id=' || CAST(g AS VARCHAR) END ||
      |      CASE WHEN doc_id % 3 = 1 THEN '#s' || CAST(doc_id AS VARCHAR)
      |        ELSE '' END""".stripMargin

  /** `documents` with the planted `url` column. */
  private def withUrl(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).withColumn("url", plantedUrl)

  private[ops] val withUrlSql: String =
    s"""SELECT doc_id, $plantedUrlSql AS url
       |  FROM (SELECT doc_id,
       |          CAST(floor(doc_id / 4.0) AS BIGINT) AS g
       |        FROM documents)""".stripMargin

  /** DuckDB mirror of the kernel's canonicalization, over a relation with
    * (doc_id, url). Planted URLs always carry a scheme, so the oracle
    * skips the kernel's no-scheme fallback (spec-covered instead). */
  private[ops] val canonSql: String =
    s"""parts AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(nofrag, '://([^/?]*)', 1)) AS auth0,
       |    regexp_extract(nofrag, '://[^/?]*([^?]*)', 1) AS path0,
       |    CASE WHEN strpos(nofrag, '?') > 0
       |      THEN substr(nofrag, strpos(nofrag, '?') + 1) ELSE '' END AS q
       |  FROM (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS nofrag
       |        FROM u)),
       |canon AS (
       |  SELECT doc_id, url,
       |    scheme || '://' || host || path ||
       |      CASE WHEN qc <> '' THEN '?' || qc ELSE '' END AS canon_url,
       |    host AS domain
       |  FROM (
       |    SELECT doc_id, url, scheme,
       |      CASE WHEN scheme = 'http' AND h0 LIKE '%:80'
       |             THEN left(h0, len(h0) - 3)
       |           WHEN scheme = 'https' AND h0 LIKE '%:443'
       |             THEN left(h0, len(h0) - 4)
       |           ELSE h0 END AS host,
       |      regexp_replace(path0, '/+$$', '') AS path,
       |      array_to_string(list_sort(list_filter(string_split(q, '&'),
       |        x -> x <> '' AND NOT regexp_matches(x,
       |          '^(utm_[^=&]*|fbclid|gclid|ref_src|mc_cid|mc_eid)(=|$$)'))),
       |        '&') AS qc
       |    FROM (
       |      SELECT doc_id, url, scheme, path0, q,
       |        CASE WHEN starts_with(auth0, 'www.') THEN substr(auth0, 5)
       |             ELSE auth0 END AS h0
       |      FROM parts)))""".stripMargin

  // ---------------------------------------------------------------------

  /** Canonicalization end-to-end: every doc's raw planted URL, canonical
    * form, and domain. Pure per-row kernel work — the plan is a single
    * narrow projection over the scan (the sort is gate-only). */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame =
    withUrl(spark, dir)
      .select(col("doc_id"), col("url"),
        graft.functions.UrlKernels.canonicalizeUrlUdf(col("url"))
          .as("canon_url"),
        graft.functions.UrlKernels.urlDomainUdf(col("url")).as("domain"))
      .orderBy(col("doc_id"))

  val urlCanonicalizeSql: String =
    s"""WITH u AS ($withUrlSql),
       |$canonSql
       |SELECT doc_id, url, canon_url, domain FROM canon
       |ORDER BY doc_id""".stripMargin

  /** Exact URL-level dedup: keep the min-doc_id member of each canonical
    * URL. The group-by key is md5(canon_url) — 16 bytes/doc through the
    * exchange, never the URL string (Dedup.exact's digest discipline);
    * output marks every doc with its keep decision so the gate checks
    * losers too. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val canon = withUrl(spark, dir)
      .select(col("doc_id"),
        graft.functions.UrlKernels.canonicalizeUrlUdf(col("url"))
          .as("canon_url"))
    val winners = canon
      .select(md5(col("canon_url")).as("digest"), col("doc_id"))
      .groupBy(col("digest")).agg(min(col("doc_id")).as("keep_id"))
    canon
      .withColumn("digest", md5(col("canon_url")))
      .join(winners, Seq("digest"))
      .select(col("doc_id"), col("canon_url"),
        (col("doc_id") === col("keep_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  val urlDedupSql: String =
    s"""WITH u AS ($withUrlSql),
       |$canonSql,
       |w AS (
       |  SELECT md5(canon_url) AS digest, MIN(doc_id) AS keep_id
       |  FROM canon GROUP BY 1)
       |SELECT c.doc_id, c.canon_url, c.doc_id = w.keep_id AS keep
       |FROM canon c JOIN w ON md5(c.canon_url) = w.digest
       |ORDER BY c.doc_id""".stripMargin

  /** Shared canonical frame: (doc_id, canon_url, digest). */
  private def canonDigests(spark: SparkSession, dir: String): DataFrame =
    withUrl(spark, dir)
      .select(col("doc_id"),
        graft.functions.UrlKernels.canonicalizeUrlUdf(col("url"))
          .as("canon_url"))
      .withColumn("digest", md5(col("canon_url")))

  /** INCREMENTAL URL dedup — the refresh path of the URL tier, under
    * the same contract as the other incremental dedup forms: history
    * (doc_id < splitId) summarizes ONCE into a winners artifact
    * ((digest, keep_id) — 16 B + id per DISTINCT canonical URL, not per
    * doc), and a delta ingest pays canonicalization of the delta plus
    * one anti-join against the winners. Keep-first-by-id is
    * PREFIX-CLOSED: an arriving doc can never evict an earlier keeper,
    * so history decisions are immutable and incremental == full rebuild
    * unconditionally (no approximation caveat in this tier — exact
    * digests, no banding). Returns the full marked frame — the SAME
    * oracle as `text_url_dedup`. */
  def urlDedupIncremental(spark: SparkSession, dir: String,
                          splitId: Long): DataFrame = {
    val canon = canonDigests(spark, dir)
    val histWinners = graft.tools.ArtifactCache.parquet(spark, dir,
      s"urldedup_winners_lt$splitId") { p =>
      canon.filter(col("doc_id") < splitId)
        .groupBy(col("digest")).agg(min(col("doc_id")).as("keep_id"))
        .write.mode("overwrite").parquet(p)
    }
    val deltaWinners = canon.filter(col("doc_id") >= splitId)
      .groupBy(col("digest")).agg(min(col("doc_id")).as("keep_id"))
      .join(histWinners.select(col("digest")), Seq("digest"), "left_anti")
    canon
      .join(histWinners.unionByName(deltaWinners), Seq("digest"))
      .select(col("doc_id"), col("canon_url"),
        (col("doc_id") === col("keep_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** One micro-batch of STREAMING URL dedup — the crawl-frontier form
    * (a fetcher asks "have I seen this canonical URL?" per arriving
    * page). State under `statePath`:
    *  - `winners` — (digest, keep_id) per distinct canonical URL,
    *    append-only (a later epoch can never claim an earlier digest);
    *  - `results` — (doc_id, canon_url, keep, epoch), append-only:
    *    keep-first prefix-closure means a doc's decision at arrival is
    *    FINAL — no latest-wins fold needed, unlike the span tier.
    * Per batch: canonicalize (per-row kernel), batch winners = min id
    * per digest anti-joined against history winners, decisions from the
    * union. Epoch-keyed overwrite writes derived from the batch + state
    * strictly older than the epoch — replay rewrites identical files. */
  def urlDedupStreamApplyBatch(batch: DataFrame, epoch: Long,
                               statePath: String,
                               compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val tEpoch = System.nanoTime()
    Seq("winners", "results").foreach(r =>
      graft.tools.LogState.requireNoFuture(s"$statePath/$r", epoch))
    val canon = batch
      .select(col("doc_id"),
        graft.functions.UrlKernels.canonicalizeUrlUdf(col("url"))
          .as("canon_url"))
      .withColumn("digest", md5(col("canon_url")))
      .stage()
    val histPaths =
      graft.tools.LogState.pathsAsOf(s"$statePath/winners", epoch - 1)
    val hist =
      if (histPaths.isEmpty)
        canon.select(col("digest"), col("doc_id").as("keep_id")).limit(0)
      else graft.tools.LogState.read(sp, s"$statePath/winners", histPaths)
    val batchWinners = canon.groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"))
      .join(hist.select(col("digest")), Seq("digest"), "left_anti")
    val res = canon
      .join(hist.unionByName(batchWinners), Seq("digest"))
      .select(col("doc_id"), col("canon_url"),
        (col("doc_id") === col("keep_id")).as("keep"),
        lit(epoch).as("epoch"))
    batchWinners.write.mode("overwrite")
      .parquet(s"$statePath/winners/delta/v$epoch")
    res.write.mode("overwrite")
      .parquet(s"$statePath/results/delta/v$epoch")
    graft.tools.LogState.maintain(sp,
      Seq(s"$statePath/winners", s"$statePath/results"), epoch,
      compactEvery)(identity)
    graft.tools.PhaseTiming.record(f"urlepoch$epoch%03d",
      (System.nanoTime() - tEpoch) / 1e9)
  }

  /** STREAMING URL dedup through the HASH GATE: contiguous id-range
    * batches (arrival order = id order, the regime where keep-first
    * streaming equals the batch rule), folded results must equal
    * [[urlDedup]] — the SAME oracle. A digest claimed twice, a dropped
    * within-batch loser, or a replay that double-publishes breaks the
    * hash. */
  def urlDedupStream(spark: SparkSession, dir: String,
                     epochs: Int = 4): DataFrame = {
    val base = StateCache.replay("text_url_dedup_stream", Some(dir), epochs,
        StateCache.Range("doc_id"), None)(
        withUrl(spark, dir).select(col("doc_id"), col("url"))) {
      (b, k, st) => urlDedupStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/results", epochs - 1L)
      .select(col("doc_id"), col("canon_url"), col("keep"))
      .stage()
      .orderBy(col("doc_id"))
  }

  /** Per-domain document cap: at most [[DomainCapK]] docs per domain,
    * chosen by deterministic md5(doc_id) rank — an unbiased, seedless
    * sample that every engine reproduces (the corpus_balance pattern).
    * The rank is the TwoLevel md5-bucket decomposition: per-bucket local
    * ranks + a broadcast prefix-count join — no per-domain global sort,
    * no unpartitioned window, so a domain with 10⁹ docs costs the same
    * exchange as one with 10². Output: the kept docs with their rank and
    * the domain's total, ordered for the gate. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val d = withUrl(spark, dir)
      .select(col("doc_id"),
        graft.functions.UrlKernels.urlDomainUdf(col("url")).as("domain"))
    TwoLevel.rank(
        TwoLevel.withMd5Bucket(d, col("doc_id").cast("string"), "__o", "__b"),
        Seq("domain"), "__b", Seq(col("__o"), col("doc_id")), "rk",
        stratumTotalOut = Some("n_domain"))
      .filter(col("rk") <= DomainCapK)
      .select(col("doc_id"), col("domain"), col("rk"), col("n_domain"))
      .orderBy(col("domain"), col("rk"))
  }

  val domainCapSql: String =
    s"""WITH u AS ($withUrlSql),
       |$canonSql,
       |r AS (
       |  SELECT doc_id, domain,
       |    ROW_NUMBER() OVER (PARTITION BY domain
       |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY domain) AS n_domain
       |  FROM canon)
       |SELECT doc_id, domain, rk, CAST(n_domain AS BIGINT) AS n_domain
       |FROM r WHERE rk <= $DomainCapK
       |ORDER BY domain, rk""".stripMargin

  // ---------------------------------------------------------------------
  // STREAMING domain cap (crawl-frontier budget enforcement at ingest)
  // ---------------------------------------------------------------------

  /** One micro-batch of the STREAMING domain cap — per-domain budget
    * enforcement on a crawl frontier. State under `statePath`:
    *  - `cand`   — winner CANDIDATES via the shared [[TopKStream]] core
    *    (see it for the displacement/monoid argument: md5 rank is NOT
    *    prefix-closed, so admission is revisable, which is exactly what
    *    makes the folded view equal the batch md5-rank sample; a
    *    frontier that needs irrevocable admits ranks by arrival instead
    *    and loses the unbiased-sample property);
    *  - `domcnt` — (domain, n) per-epoch counts; fold = the count-sum
    *    monoid. Feeds the report's n_domain stratum totals.
    * Per-epoch cost: one narrow kernel pass over the batch + a
    * batch-sized rank. Writes derive from the batch alone, keyed by
    * epoch — replay rewrites identical files.
    * LATENESS CONTRACT (r16): both logs fold commutative/associative/
    * idempotent monoids (top-K-merge, count-sum), so winners and totals
    * are ARRIVAL-ORDER-INDEPENDENT — a late document folds in correctly
    * (displacement is the spec'd behavior); no quarantine or admission
    * guard is needed, unlike the prefix-sum assembly tiers. */
  def domainCapStreamApplyBatch(batch: DataFrame, epoch: Long,
                                statePath: String, k: Int = DomainCapK,
                                compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val tEpoch = System.nanoTime()
    val cntRoot = s"$statePath/domcnt"
    graft.tools.LogState.requireNoFuture(cntRoot, epoch)
    val d = batch
      .select(col("doc_id"),
        graft.functions.UrlKernels.urlDomainUdf(col("url")).as("domain"))
      .withColumn("ord", md5(col("doc_id").cast("string")))
      .stage()
    TopKStream.applyBatch(d.select(col("domain"), col("ord"),
      col("doc_id")), epoch, statePath, "domain", k, compactEvery)
    d.groupBy(col("domain")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$cntRoot/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(cntRoot), epoch, compactEvery)(
      _.groupBy(col("domain")).agg(sum(col("n")).as("n")))
    graft.tools.PhaseTiming.record(f"dcapepoch$epoch%03d",
      (System.nanoTime() - tEpoch) / 1e9)
  }

  /** The capped corpus as of `upTo` — per-domain kept docs with
    * contiguous ranks and the domain's running total; None before the
    * first batch. Equals batch [[domainCap]] over the arrived prefix. */
  def domainCapStreamReport(sp: SparkSession, statePath: String,
                            upTo: Long,
                            k: Int = DomainCapK): Option[DataFrame] = {
    val ranked = TopKStream.rankedAsOf(sp, statePath, upTo, "domain", k)
      .getOrElse(return None)
    val counts = LogState.readAsOf(sp, s"$statePath/domcnt", upTo)
      .groupBy(col("domain")).agg(sum(col("n")).as("n_domain"))
    Some(ranked.join(counts, Seq("domain"))
      .select(col("doc_id"), col("domain"), col("rk"),
        col("n_domain").cast("long").as("n_domain"))
      .orderBy(col("domain"), col("rk")))
  }

  /** STREAMING domain cap through the HASH GATE: contiguous id-range
    * batches over the planted corpus, final report must equal batch
    * [[domainCap]] — the SAME oracle. A displacement the fold misses
    * (an epoch-0 winner surviving a smaller-md5 epoch-2 arrival), a
    * count double-published by a replay, or a rank gap breaks the
    * hash. */
  def domainCapStream(spark: SparkSession, dir: String,
                      epochs: Int = 4): DataFrame = {
    val base = StateCache.replay("corpus_domain_cap_stream", Some(dir),
        epochs, StateCache.Range("doc_id"), None)(
        withUrl(spark, dir).select(col("doc_id"), col("url"))) {
      (b, k, st) => domainCapStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    domainCapStreamReport(spark, s"$base/state", epochs - 1L)
      .getOrElse(sys.error("domain cap stream: no state"))
      .stage()
      .orderBy(col("domain"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_url_canon"   -> (urlCanonicalize _),
    "text_url_dedup"   -> (urlDedup _),
    // splitId 302 lands MID-GROUP (groups are [4g, 4g+3], so ids
    // 300-301 are history, 302-303 delta in the same canonical-URL
    // group): the delta must defer to a history-claimed digest, not
    // just to other delta members — the anti-join's load-bearing case
    "text_url_dedup_incr" -> ((s: SparkSession, d: String) =>
      urlDedupIncremental(s, d, splitId = 302)),
    "text_url_dedup_stream" -> ((s: SparkSession, d: String) =>
      urlDedupStream(s, d)),
    "corpus_domain_cap" -> (domainCap _),
    "corpus_domain_cap_stream" -> ((s: SparkSession, d: String) =>
      domainCapStream(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "text_url_canon"   -> urlCanonicalizeSql,
    "text_url_dedup"   -> urlDedupSql,
    "text_url_dedup_incr" -> urlDedupSql,
    "text_url_dedup_stream" -> urlDedupSql,
    "corpus_domain_cap" -> domainCapSql,
    // the streaming form's folded winner sets must equal the batch
    // md5-rank sample exactly — same oracle
    "corpus_domain_cap_stream" -> domainCapSql,
  )
}

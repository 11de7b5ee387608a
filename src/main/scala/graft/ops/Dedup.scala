package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextKernels.{tokens, tokensSql}
import graft.tools.{LogState, StateCache}
import graft.tools.Stage._

/** Deduplication suite over `documents` — exact, keyed, MinHash-LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup (the north-star
  * training-data-pipeline operators).
  *
  * Scale posture: every near-dup variant is **bucket-then-verify** — a
  * cheap, shuffle-friendly bucketing step (LSH bands / simhash bands /
  * group keys) bounds the candidate set, and the exact verification runs
  * only inside buckets. Nothing here is O(n²) on the corpus: at 100 TB the
  * bucket join shuffles each doc's signature a constant number of times
  * (one row per band), and candidate pairs are generated per-bucket via a
  * self-join on the band key. Driver never sees the data (no collect).
  *
  * Algorithms are the public classics: MinHash (Broder, "On the
  * resemblance and containment of documents", 1997), SimHash (Charikar,
  * "Similarity estimation techniques from rounding algorithms", STOC
  * 2002), LSH banding (Leskovec/Rajaraman/Ullman, MMDS ch. 3); the
  * distributed top-k/similarity framing follows the retrieved corpus in
  * PAPERS.md (e.g. "Incremental ... Top-K Similarity Search", EDBT 2020).
  */
object Dedup {

  // ---------------------------------------------------------------------
  // Exact dedup (SURVEY §2.4 U2 parity, keyed variant)
  // ---------------------------------------------------------------------

  /** Exact content dedup: keep the lowest doc_id per distinct text —
    * the reference's `drop_duplicates()` (`flows/etl.py:304`) made
    * deterministic and distributed. The groupBy key is a 128-bit md5
    * content digest, NOT the text itself: the shuffle carries 16 bytes/doc
    * instead of the document body, which at 100 TB is the difference
    * between shuffling digests and shuffling the corpus. Every per-group
    * output (min id, count, length) is computed as an aggregate, so the
    * text column is projected away before the exchange. Semantics are
    * identical modulo md5 collisions (~2^-64 at corpus scale); the oracle
    * computes the same digest in DuckDB. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"),
        length(col("text")).as("text_len"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        min(col("text_len")).as("text_len"))
      .select(col("keep_id"), col("n_copies"), col("text_len"))
      .orderBy(col("keep_id"))

  val exactSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies,
      |  MIN(LENGTH(text)) AS text_len
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  /** Keyed dedup: first record per (lang, source) — the "dedup by business
    * key" variant (reference's drop_duplicates generalized to a subset). */
  def keyed(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_in_group"))
      .orderBy(col("lang"), col("source"))

  val keyedSql: String =
    """SELECT lang, source, MIN(doc_id) AS keep_id, COUNT(*) AS n_in_group
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** Incremental ingest dedup — the daily-batch shape: documents arriving
    * in the new batch (doc_id ≥ splitId stands in for the ingest
    * boundary) are kept only if their exact content is absent from the
    * historical corpus. Plans as a LEFT ANTI hash join on a 128-bit md5
    * content digest — both sides project the body away before the
    * exchange, so the shuffle carries 16 bytes/doc instead of documents
    * (the historical side of this join is the whole corpus at 100 TB).
    * The oracle computes the same digest in DuckDB. */
  def incremental(spark: SparkSession, dir: String,
                  splitId: Long = 400): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("digest"),
        length(col("text")).as("text_len"))
    val old = docs.filter(col("doc_id") < splitId).select(col("digest"))
    docs.filter(col("doc_id") >= splitId)
      .join(old, Seq("digest"), "left_anti")
      .select(col("doc_id"), col("text_len"))
      .orderBy(col("doc_id"))
  }

  val incrementalSql: String =
    """SELECT doc_id, LENGTH(text) AS text_len
      |FROM documents n
      |WHERE doc_id >= 400
      |  AND NOT EXISTS (SELECT 1 FROM documents o
      |                  WHERE o.doc_id < 400 AND md5(o.text) = md5(n.text))
      |ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination check — near-dup detection ACROSS a
    * train/eval split: eval documents (doc_id ≥ splitId) whose token-set
    * Jaccard against any training document reaches the threshold are
    * flagged (they would leak the benchmark into training). Same
    * bucket-then-verify blocking as ngramJaccard, constrained to cross
    * pairs only. */
  def contamination(spark: SparkSession, dir: String, splitId: Long = 400,
                    threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        (col("n_chars") / 100).cast("long").as("len_bucket"),
        col("doc_id"),
        array_distinct(tokens(col("text"))).as("toks"))
    val train = docs.filter(col("doc_id") < splitId)
      .select(col("lang"), col("source"), col("len_bucket"),
        col("doc_id").as("train_id"), col("toks").as("train_toks"))
    val eval_ = docs.filter(col("doc_id") >= splitId)
      .select(col("lang"), col("source"), col("len_bucket"),
        col("doc_id").as("eval_id"), col("toks").as("eval_toks"))
    eval_.join(train, Seq("lang", "source", "len_bucket"))
      // compiled jaccard kernel: null on 0/0 drops at the filter, and the
      // interpreted array_intersect/array_union pair never runs (oracle
      // value identical — integer counts, exact division)
      .withColumn("jaccard", graft.functions.TextKernels.jaccardUdf(
        col("eval_toks"), col("train_toks")))
      .filter(col("jaccard") >= threshold)
      .select(col("eval_id"), col("train_id"), col("jaccard"))
      .orderBy(col("eval_id"), col("train_id"))
  }

  val contaminationSql: String =
    s"""SELECT e.eval_id, t.train_id,
       |  CAST(len(list_filter(e.toks, x -> list_contains(t.toks, x))) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(e.toks, t.toks))) AS DOUBLE) AS jaccard
       |FROM (SELECT lang, source, n_chars // 100 AS len_bucket, doc_id AS eval_id,
       |        list_distinct($tokensSql) AS toks FROM documents WHERE doc_id >= 400) e
       |JOIN (SELECT lang, source, n_chars // 100 AS len_bucket, doc_id AS train_id,
       |        list_distinct($tokensSql) AS toks FROM documents WHERE doc_id < 400) t
       |  ON e.lang = t.lang AND e.source = t.source AND e.len_bucket = t.len_bucket
       |WHERE CAST(len(list_filter(e.toks, x -> list_contains(t.toks, x))) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(e.toks, t.toks))) AS DOUBLE) >= 0.5
       |ORDER BY eval_id, train_id""".stripMargin

  /** Cross-source contamination MATRIX — the train/eval leakage check
    * generalized to every source pair: the count of distinct word-n-gram
    * shingles shared between each pair of sources, with each side's
    * distinct-shingle total alongside (containment / Jaccard ratios are
    * then one division away, computed downstream without a second corpus
    * scan). All-integer output, fully DuckDB-oracled. This is the
    * dataset-curation view of contamination: [[contamination]] answers
    * "which eval DOCS leak", this answers "which SOURCES share content",
    * the signal used to quarantine a whole crawl slice before mixing.
    *
    * Scale shape: each doc shingles ONCE (compiled kernel), then ONE
    * aggregation keyed by shingle collapses each shingle to its sorted
    * distinct source set (`collect_set` dedups, so no separate distinct
    * pass; the per-shingle state is bounded by |sources|). Canonical
    * pairs explode from that set and feed a map-side-partial count into
    * the ≤ |sources|²-cell matrix; per-source totals re-derive from the
    * same grouped frame (exchange reuse), so the corpus is scanned once
    * and NOTHING self-joins. This is why a stop-shingle present in every
    * source is no longer a fan-out hazard (the r9 verdict's watch item):
    * it costs one |sources|-entry set and C(|sources|, 2) counted pairs
    * absorbed by partial aggregation — there is no shingle-keyed join to
    * amplify into |sources|² shuffled rows, so no df-cap (and no
    * results-changing escape route) is needed. */
  def overlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    val bySh = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.TextKernels.shingleUdf(
          col("text"), lit(ShingleN))).as("sh"))
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
    val tot = bySh.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    bySh.filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> " +
          "transform(slice(srcs, i + 2, size(srcs)), b -> " +
          "named_struct('source_a', a, 'source_b', b))))")).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(tot.select(col("source").as("source_a"),
        col("n_sh").as("a_total"))), Seq("source_a"))
      .join(broadcast(tot.select(col("source").as("source_b"),
        col("n_sh").as("b_total"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("a_total"), col("b_total"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val overlapMatrixSql: String =
    s"""WITH t AS (
       |  SELECT source, $tokensSql AS toks FROM documents),
       |s AS (
       |  SELECT DISTINCT source,
       |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
       |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) g
       |  WHERE len(toks) >= 3),
       |tot AS (SELECT source, COUNT(*) AS n_sh FROM s GROUP BY 1)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  COUNT(*) AS shared,
       |  ANY_VALUE(ta.n_sh) AS a_total, ANY_VALUE(tb.n_sh) AS b_total
       |FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
       |JOIN tot ta ON ta.source = a.source
       |JOIN tot tb ON tb.source = b.source
       |GROUP BY 1, 2
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------------
  // MinHash + LSH near-dup
  // ---------------------------------------------------------------------

  val NumHashes = 64
  val Bands     = 16  // 16 bands × 4 rows: catches Jaccard ≳ 0.5 w.h.p.
  /** LSH band-bucket skew cap (see minhash Scaladoc: drop, don't salt —
    * a bucket this big means the band carries no selectivity). */
  val MinhashMaxBucket = 200

  val ShingleN = 3

  /** Size of the planted clustered-gate corpus ([[writeClusteredDocs]]:
    * 3×40 exact replicas + 20 sub-threshold probes). Referenced by every
    * Scala-side width/idSpan/require computation over that corpus
    * (ADVICE r18: the TTL gate's divisibility require hard-coded the
    * literal separately from the width math it guards). The corpus
    * SHAPE constants (120 = replica span, 40 = families) stay literal
    * inside the non-interpolated oracle SQL — they pin the same planted
    * layout on the DuckDB side, where a drift is exactly what the hash
    * gates exist to catch. */
  val ClusteredCorpusDocs = 140

  /** documents → (doc_id, shingles) — the verification-side lookup of
    * the incremental and streaming refresh paths. Compiled kernel (see
    * TextKernels): the HOF-lambda equivalent is CodegenFallback-
    * interpreted and ~100× slower per row. */
  private def shingleSetsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextKernels.shingleUdf(col("text"), lit(ShingleN)).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** LSH band rows of `frame`, keyed by `keys`: one row per band of the
    * `bandKeys` column (band = its position, band_sig = the key, from
    * [[graft.functions.TextKernels.bandKeys]], equal to the `xxhash64` of
    * the band's slice of the signature), none where it is null (no
    * shingles or tokens). The one banding of the minhash family: 16×4
    * for the shingle op, 8×8 for ngram-Jaccard's escape path. */
  private def lshBands(frame: DataFrame, keys: Seq[Column], bandKeys: Column): DataFrame =
    frame.select(keys :+ posexplode(bandKeys).as(Seq("band", "band_sig")): _*)

  /** documents (doc_id, text) → the slim LSH band INDEX rows (doc_id,
    * band, band_sig): 16 rows per doc, ~24 B each — the shape the band
    * shuffle carries, and the shape the persisted incremental index
    * stores. One compiled call per document signs its shingles (each
    * shingle string hashes once; the 64 family members re-hash that
    * fixed-width long) and bands the signature; the signature itself is
    * never a column. */
  private[graft] def bandRows(docs: DataFrame): DataFrame =
    lshBands(docs, Seq(col("doc_id")), graft.functions.TextKernels.minhashBandsUdf(
      col("text"), lit(ShingleN), lit(NumHashes), lit(Bands)))

  /** Distinct candidate pairs (a_id < b_id) of band rows (doc_id, band,
    * band_sig): one exchange on the band key, each partition sorted so
    * that every bucket is one run, then the compiled run walk
    * ([[graft.functions.TextKernels.bucketRunPairs]]: a bucket of more
    * than `maxBucket` rows yields nothing) and one distinct — the pairs
    * of a band-key self-join filtered on `a_id < b_id`, without the
    * self-join, and with no map-side aggregation buffers.
    *
    * The sort leads with band_sig, a 64-bit hash, so the sorter's 8-byte
    * key prefix settles nearly every comparison, where the band (16
    * values) would leave them to the full comparator. */
  private[graft] def bucketCandidates(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.select(col("band_sig"), col("band"), col("doc_id"))
      .repartition(col("band"), col("band_sig"))
      .sortWithinPartitions(col("band_sig"), col("band"), col("doc_id"))
      .mapPartitions(RunPairs(maxBucket))(PairEncoder)
      .toDF("a_id", "b_id")
      // never false: spelled out so that a join on the pair columns
      // infers nothing new, and every consumer of the pairs shares one
      // plan below the distinct (and so one exchange)
      .filter(col("a_id").isNotNull && col("b_id").isNotNull)
      .distinct()

  /** The run walk as a plan node's function: it prints as
    * `RunPairs(maxBucket)`, where a lambda prints a per-JVM class name. */
  private final case class RunPairs(maxBucket: Int)
      extends (Iterator[Row] => Iterator[(java.lang.Long, java.lang.Long)]) {
    def apply(rows: Iterator[Row]): Iterator[(java.lang.Long, java.lang.Long)] =
      graft.functions.TextKernels.bucketRunPairs(rows, maxBucket)
    override def toString: String = s"RunPairs($maxBucket)"
  }

  /** Boxed longs: the pair columns are nullable, as the near-dup ops'
    * published schemas have them. */
  private val PairEncoder = Encoders.tuple(Encoders.LONG, Encoders.LONG)

  /** MinHash-LSH near-dup candidate pairs, exact-Jaccard verified.
    *
    * Plan shape (the 100 TB path):
    *  1. signature and band keys: narrow, per-row, compiled kernels — no
    *     shuffle;
    *  2. one exchange on the band key (band, band_sig), each partition
    *     sorted on (band_sig, band, doc_id) so that every bucket is one
    *     run — the shuffle is 16× doc *keys*, not content, and no
    *     aggregation buffers a bucket map-side;
    *  3. a compiled walk over each partition's runs emits every
    *     `a_id < b_id` pair of a bucket, then one distinct — the
    *     self-join rule without the self-join;
    *  4. exact Jaccard for candidate pairs only: the candidate ids
    *     broadcast into a semi-join on the documents, so only candidate
    *     docs' text reaches the verify, and one kernel call per pair
    *     shingles both texts and compares them.
    * Skew guard: buckets larger than `maxBucket` are dropped (a degenerate
    * band value would otherwise quadratically explode one reducer — the
    * standard LSH salt-or-drop tradeoff, here: drop, since a bucket that
    * big means the band carries no selectivity). */
  def minhash(spark: SparkSession, dir: String,
              jaccardThreshold: Double = 0.5,
              maxBucket: Int = MinhashMaxBucket,
              sorted: Boolean = true): DataFrame =
    minhashOf(Tables.documents(spark, dir), jaccardThreshold, maxBucket, sorted)

  /** minhash over an injectable documents frame (doc_id, text, …) — the
    * incremental and streaming paths run it over corpus slices. The
    * signature pass reads a rebalanced copy (full parallelism for the
    * heavy per-doc kernel); the verify reads `docs` as given, so the
    * candidate semi-join filters the scan before any text moves.
    *
    * Building the frame runs no Spark job: the band rows have one
    * consumer, the bucket walk, so nothing is staged. The walk keeps the
    * window's cap rule (a bucket's row count, null ids included, not its
    * distinct ids, against `maxBucket`) and its hash partitioning on the
    * band key, so the pair fan-out runs at the window's parallelism. */
  private[graft] def minhashOf(docs: DataFrame,
                               jaccardThreshold: Double,
                               maxBucket: Int,
                               sorted: Boolean): DataFrame = {
    val candidates =
      bucketCandidates(bandRows(Tables.rebalanced(docs)), maxBucket)
    // text for candidate docs only: the distinct candidate ids (≤ 8 B per
    // document, never wider than the all-document shingle sets this
    // verify used to join) broadcast into a semi-join, so the scan is
    // filtered before any text moves
    val texts = docs.select(col("doc_id"), col("text"))
      .join(broadcast(candidates.select(explode(array(col("a_id"), col("b_id")))
        .as("doc_id")).distinct()), Seq("doc_id"), "left_semi")
    val verified = candidates
      .join(texts.select(col("doc_id").as("a_id"), col("text").as("a_text")), Seq("a_id"))
      .join(texts.select(col("doc_id").as("b_id"), col("text").as("b_text")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        graft.functions.TextKernels.shingleJaccardUdf(
          col("a_text"), col("b_text"), lit(ShingleN)).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
    // the global sort is dump-determinism only; artifact consumers skip
    // it — its RangePartitioner sampling pass re-runs the pair pipeline
    if (sorted) verified.orderBy(col("a_id"), col("b_id")) else verified
  }

  // ---------------------------------------------------------------------
  // SimHash near-dup
  // ---------------------------------------------------------------------

  /** 64-bit SimHash per document: each token votes ±1 on each bit of its
    * xxhash64; the sign vector becomes the fingerprint. Candidates are
    * pairs agreeing on at least one of four 16-bit bands (Hamming ≤ 3 is
    * guaranteed to collide on ≥1 band by pigeonhole), verified by exact
    * Hamming distance via bit_count(xor). */
  def simhash(spark: SparkSession, dir: String, maxHamming: Int = 3,
              maxBucket: Int = 200): DataFrame =
    simhashOf(Tables.rebalanced(Tables.documents(spark, dir)),
      maxHamming, maxBucket, sorted = true)

  /** (doc_id, fp) fingerprints of a documents frame — one compiled pass
    * per doc: every token occurrence votes ±1 per bit of its xxhash64;
    * the sign vector is the fingerprint (TextKernels). */
  private def simhashFps(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.TextKernels.simhashUdf(col("text")).as("fp"))
      .filter(col("fp").isNotNull)

  /** The banded-Hamming family's ONE band definition: each 64-bit
    * fingerprint becomes four 16-bit band rows (doc_id, fp, band,
    * band_sig) — Hamming ≤ 3 collides on ≥1 band by pigeonhole. The
    * 8-byte fp rides its band rows, so a verify needs no separate
    * fingerprint store; the (band, band_sig) naming lets the shared
    * candidate kernel and crossing retraction apply unchanged. The
    * batch kernel, the incremental refresh and the stream state all
    * band through here. */
  private def hammingBandRows(fps: DataFrame): DataFrame = {
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(fp, ${b * 16}) & 65535").as("band_sig"))
    }
    fps.select(col("doc_id"), col("fp"), explode(array(bands: _*)).as("bs"))
      .select(col("doc_id"), col("fp"),
        col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** simhash over an injectable documents frame — the incremental path
    * runs it over corpus slices. */
  private[graft] def simhashOf(docs: DataFrame, maxHamming: Int,
                               maxBucket: Int, sorted: Boolean): DataFrame =
    fingerprintNearDup(simhashFps(docs), maxHamming, maxBucket, sorted)

  /** Near-dup pairs over ANY 64-bit fingerprint frame (doc_id, fp) —
    * the batch form of the banded-Hamming family, shared by text
    * simhash and the image, audio and video hashes ([[Multimodal]]
    * bridges into this): [[hammingBandRows]] buckets, per-bucket skew
    * cap, bit_count(xor) verify. */
  private[graft] def fingerprintNearDup(withFp: DataFrame, maxHamming: Int,
                                        maxBucket: Int,
                                        sorted: Boolean): DataFrame = {
    val banded = hammingBandRows(withFp)
      .withColumn("bucket_n", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("band_sig"))))
      .filter(col("bucket_n") <= maxBucket)
    val a = banded.select(col("band"), col("band_sig"),
      col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val b = banded.select(col("band"), col("band_sig"),
      col("doc_id").as("b_id"), col("fp").as("b_fp"))
    val verified = a.join(b, Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("hamming", expr("bit_count(a_fp ^ b_fp)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
    if (sorted) verified.orderBy(col("a_id"), col("b_id")) else verified
  }

  /** Incremental SIMHASH band-index maintenance: the historical corpus
    * persists its fingerprint frame (8 B/doc + id — the band rows derive
    * from it as a narrow map, so ONE artifact serves both index and
    * verify) and its pair set, each a build-once artifact; a new batch
    * fingerprints only its own docs and refreshes through
    * [[fingerprintIncrementalFrom]], the family's one refresh body
    * (touched-slice pruning, COMBINED-bucket cap, crossing retraction,
    * exact Hamming verify) — incremental == full rebuild
    * unconditionally. `deltaOnly = true` returns just the delta pairs
    * (unsorted) and never builds the history pair artifact. Fixture
    * form is hash-family-specific (rows-only semantics); the GATED
    * entry runs on the planted corpus where the pair set is exact. */
  def simhashIncremental(spark: SparkSession, dir: String,
                         splitId: Long = 400, maxHamming: Int = 3,
                         maxBucket: Int = 200,
                         deltaOnly: Boolean = false): DataFrame = {
    val all = Tables.rebalanced(Tables.documents(spark, dir))
    val oldDocs = all.filter(col("doc_id") < splitId)
    val histFp = graft.tools.ArtifactCache.parquet(spark, dir,
      s"simhash_fp_lt$splitId") { p =>
      simhashFps(oldDocs).write.mode("overwrite").parquet(p)
    }
    val deltaFp = simhashFps(all.filter(col("doc_id") >= splitId)).stage()
    val histPairs =
      if (deltaOnly) None
      else Some(graft.tools.ArtifactCache.parquet(spark, dir,
        s"pairs_simhash_lt${splitId}_h${maxHamming}_b$maxBucket") { p =>
        simhashOf(oldDocs, maxHamming, maxBucket, sorted = false)
          .write.mode("overwrite").parquet(p)
      })
    fingerprintIncrementalFrom(histFp, histPairs, deltaFp, maxHamming,
      maxBucket)
  }

  /** INCREMENTAL near-dup refresh over ANY injectable (doc_id, fp)
    * frames with the history pair set computed inline — for the planted
    * multimodal corpora, which are synthesized per run, so there is no
    * history to cache. Returns the FULL pair set, equal to a
    * from-scratch [[fingerprintNearDup]] over hist ∪ delta. */
  private[graft] def fingerprintIncremental(histFp: DataFrame,
                                            deltaFp: DataFrame,
                                            maxHamming: Int = 3,
                                            maxBucket: Int = 200,
                                            sorted: Boolean = true): DataFrame =
    fingerprintIncrementalFrom(histFp,
      Some(fingerprintNearDup(histFp, maxHamming, maxBucket, sorted = false)),
      deltaFp, maxHamming, maxBucket, sorted)

  /** The banded-Hamming family's ONE refresh body: delta-involved pairs
    * through the shared candidate kernel ([[deltaHammingPairs]]:
    * touched-slice pruning, COMBINED-bucket cap, exact Hamming verify),
    * plus the history pair set with cap-crossing retraction
    * ([[retractCrossedPairs]]) — the maintained-artifact posture:
    * history owns its fingerprint index and pair set, so a caller that
    * persists them (ArtifactCache/StateCache) pays the O(hist)-bounded
    * build once and the recurring delta ingest never recomputes it.
    * `histPairs` must equal `fingerprintNearDup(histFp, maxHamming,
    * maxBucket, sorted=false)` over the same history (the artifact builds
    * construct it exactly so); the retraction runs against the supplied
    * set, so the result equals a full rebuild unconditionally. With
    * `histPairs = None` only the delta pairs come back (unsorted): the
    * additions feed, which cannot express retractions. */
  private[graft] def fingerprintIncrementalFrom(histFp: DataFrame,
                                                histPairs: Option[DataFrame],
                                                deltaFp: DataFrame,
                                                maxHamming: Int = 3,
                                                maxBucket: Int = 200,
                                                sorted: Boolean = true): DataFrame = {
    val histIdx = hammingBandRows(histFp)
    val deltaIdx = hammingBandRows(deltaFp)
    val dp = deltaHammingPairs(histIdx, deltaIdx, maxHamming, maxBucket)
    histPairs.fold(dp.pairs) { hp =>
      val full = retractCrossedPairs(hp, histIdx, deltaIdx,
          dp.crossingKeys, maxBucket)
        .unionByName(dp.pairs)
      if (sorted) full.orderBy(col("a_id"), col("b_id")) else full
    }
  }

  /** One micro-batch of STREAMING simhash dedup: the text tier's feed
    * into [[fingerprintStreamApplyBatch]] with doc-level keep-first.
    * survivorIds = ALL arriving ids: a null-fingerprint doc (empty or
    * punctuation-only text) can never appear in a verified pair, so
    * under the batch keep-rule it SURVIVES — deriving survivors from the
    * fp-filtered frame would silently drop it from the log. The slim
    * (doc_id, text) projection is checkpointed ONCE and both consumers
    * (fingerprint input, survivor ids) derive from it: a
    * non-deterministic foreachBatch source evaluated twice could
    * otherwise log a survivor that was never indexed, or vice versa. */
  private[graft] def simhashStreamApplyBatch(batch: DataFrame,
                                             batchId: Long, statePath: String,
                                             maxHamming: Int = 3,
                                             maxBucket: Int = 200,
                                             compactEvery: Int = 4): Unit = {
    val slim = batch.select(col("doc_id"), col("text")).stage()
    fingerprintStreamApplyBatch(simhashFps(slim),
      batchId, statePath, maxHamming, maxBucket, compactEvery,
      survivorIds = Some(slim.select(col("doc_id"))))
  }

  /** The keep-first rule of the banded-Hamming stream core: given the
    * batch's arriving ids (a `doc_id` frame) and its verified pairs
    * (a_id, b_id, hamming), the surviving unit ids (a `doc_id` frame). */
  private[graft] type KeepFirst = (DataFrame, DataFrame) => DataFrame

  /** Doc-level keep-first: an arrival is a dup iff it is the LATER side
    * (b_id) of a verified pair — with id-ordered arrival this equals the
    * batch rule "keep d iff no verified pair (a, d) with a < d". */
  private val keepFirstDoc: KeepFirst = (arrivals, verified) =>
    arrivals.join(verified.select(col("b_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** Entity-level keep-first over member keys (entity·span + position):
    * an arriving entity is a dup iff ≥ `minAligned` of its members
    * collide AT THE SAME POSITION with one earlier entity
    * ([[alignedEntityPairs]] — the temporal rule the video gates share);
    * survivors are entity ids. */
  private def keepFirstEntity(span: Int, minAligned: Int): KeepFirst =
    (arrivals, verified) =>
      arrivals.select(expr(s"doc_id div $span").as("doc_id")).distinct()
        .join(alignedEntityPairs(verified, span, minAligned)
            .select(col("b_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")

  /** Member pairs → entity pairs over composite keys (entity·span +
    * position): aligned filter, per-entity-pair collision count,
    * threshold; (a_id, b_id, n_aligned), unsorted. A pure function of
    * the member pair set — which is what lets the video incremental
    * form inherit the frame kernel's equality-with-rebuild claim and
    * the stream form reuse the batch rule. */
  private[graft] def alignedEntityPairs(memberPairs: DataFrame, span: Int,
                                        minAligned: Int): DataFrame =
    memberPairs
      .filter(col("a_id") % span === col("b_id") % span) // aligned only
      .select(expr(s"a_id div $span").as("va"),
        expr(s"b_id div $span").as("vb"))
      .filter(col("va") =!= col("vb"))
      .groupBy(col("va"), col("vb"))
      .agg(count(lit(1)).as("n_aligned"))
      .filter(col("n_aligned") >= minAligned)
      .select(col("va").as("a_id"), col("vb").as("b_id"), col("n_aligned"))

  /** The banded-Hamming family's ONE stream body: one micro-batch of an
    * already-fingerprinted batch (doc_id, fp) — simhash feeds it text
    * fingerprints, the multimodal tier image/audio hashes and video
    * frames. State is TWO append-only [[graft.tools.LogState]] logs:
    * `index` = [[hammingBandRows]] (the fp rides its band rows, so the
    * verify reads no corpus after ingest) and `survivors` = each
    * batch's keepers. Per batch: band the arrivals once (cost ∝ batch),
    * then the shared candidate kernel ([[deltaCandidatePairs]] via
    * [[deltaHammingPairs]]: touched-key prune, COMBINED bucket cap,
    * batch×hist ∪ batch×batch candidates, each carrying both
    * fingerprints off the band rows) and the `bit_count(xor)` verify.
    * `keepFirst` turns the verified pairs into survivors:
    * [[keepFirstDoc]] by default, [[keepFirstEntity]] for sequences.
    * Arrival ids are the batch's band-0 rows (exactly one per doc);
    * `survivorIds` overrides them for callers whose fingerprint step
    * can DROP rows (simhash's null-fp filter): such docs pair with
    * nothing and must still survive.
    *
    * Cap semantics are INGEST-TIME, as minhash streaming: each batch
    * caps on the combined (index-so-far + batch) bucket size, so a
    * bucket that crosses the cap in a later batch keeps the decisions
    * already published. Writes are epoch-keyed overwrites derived from
    * state < batchId: replay-idempotent. */
  private[graft] def fingerprintStreamApplyBatch(fps: DataFrame,
                                                 batchId: Long, statePath: String,
                                                 maxHamming: Int = 3,
                                                 maxBucket: Int = 200,
                                                 compactEvery: Int = 4,
                                                 survivorIds: Option[DataFrame] = None,
                                                 keepFirst: KeepFirst = keepFirstDoc): Unit = {
    val sp = fps.sparkSession
    val indexRoot = s"$statePath/index"
    val survRoot = s"$statePath/survivors"
    Seq(indexRoot, survRoot)
      .foreach(graft.tools.LogState.requireNoFuture(_, batchId))
    val newRows = hammingBandRows(fps).stage()
    val histPaths = graft.tools.LogState.pathsAsOf(indexRoot, batchId - 1)
    val hist =
      if (histPaths.nonEmpty) LogState.read(sp, indexRoot, histPaths)
      else newRows.limit(0)
    val verified =
      deltaHammingPairs(hist, newRows, maxHamming, maxBucket).pairs
    val batchSurvivors = keepFirst(survivorIds.getOrElse(
      newRows.filter(col("band") === 0).select(col("doc_id"))), verified)
    newRows.write.mode("overwrite").parquet(s"$indexRoot/delta/v$batchId")
    batchSurvivors.write.mode("overwrite")
      .parquet(s"$survRoot/delta/v$batchId")
    graft.tools.LogState.maintain(sp, Seq(indexRoot, survRoot), batchId,
      compactEvery)(identity)
  }

  /** The sequence (video) form of [[fingerprintStreamApplyBatch]]: rows
    * are MEMBER fingerprints under composite keys (entity·span +
    * position, fp) and keep-first is entity-level ([[keepFirstEntity]]):
    * an arriving entity is a dup iff ≥ `minAligned` of its members
    * collide at the same position with one earlier entity. Id-ordered
    * ENTITY arrival (batches partition entity ranges) makes the rule
    * prefix-closed. */
  private[graft] def sequenceFingerprintStreamApplyBatch(
      memberFps: DataFrame, batchId: Long, statePath: String,
      span: Int = 64, minAligned: Int = 2,
      maxHamming: Int = 3, maxBucket: Int = 200,
      compactEvery: Int = 4): Unit =
    fingerprintStreamApplyBatch(memberFps, batchId, statePath, maxHamming,
      maxBucket, compactEvery, keepFirst = keepFirstEntity(span, minAligned))

  /** STREAMING simhash through the HASH GATE on the planted corpus:
    * four contiguous id-range batches (arrival order = id order, so the
    * survivor rule is exact) — the final survivor set must be precisely
    * the first copy of each base plus the 20 probes, which the oracle
    * synthesizes from `range()`. A pruning bug that misses a touched
    * band key, a combined-cap mistake, or a survivor published from a
    * replayed epoch breaks the hash. `dir` unused (regime, not scale). */
  def simhashStreamClustered(spark: SparkSession, dir: String,
                             epochs: Int = 4): DataFrame = {
    val cdir = clusteredDocsDir(spark)
    val base = StateCache.replay("dedup_stream_simhash_clustered",
        Some(cdir), epochs, StateCache.Range("doc_id"), None)(
        Tables.documents(spark, cdir).select(col("doc_id"), col("text"))) {
      (b, k, st) => simhashStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L).stage()
      .orderBy(col("doc_id"))
  }

  val simhashStreamClusteredSql: String =
    """SELECT CAST(x AS BIGINT) AS doc_id FROM range(0, 40) t(x)
      |UNION ALL
      |SELECT CAST(x AS BIGINT) AS doc_id FROM range(120, 140) t(x)
      |ORDER BY doc_id""".stripMargin

  /** STREAMING minhash through the HASH GATE on the planted corpus —
    * the deterministic-regime twin [[minhashStream]] (fixture-corpus,
    * rows-only by §5.5) was missing (VERDICT r12 #2): four contiguous
    * id-range batches drive [[minhashStreamApplyBatch]] directly; on
    * exact replicas every band collides and the Jaccard verify is 1.0,
    * so the survivor set is exact — the first copy of each of the 40
    * bases plus the 20 sub-threshold probes (whose single shared
    * shingle puts Jaccard at 1/19 < 0.5: a verify bug that passes them,
    * a shingle-store prune that misses a candidate partition, or a
    * replayed epoch publishing twice breaks the hash. Same oracle as
    * [[simhashStreamClustered]] — on this corpus the two hash families'
    * exact survivor sets coincide by construction. `dir` unused
    * (regime, not scale). */
  def minhashStreamClustered(spark: SparkSession, dir: String,
                             epochs: Int = 4): DataFrame = {
    val cdir = clusteredDocsDir(spark)
    val base = StateCache.replay("dedup_stream_minhash_clustered",
        Some(cdir), epochs, StateCache.Range("doc_id"), None)(
        Tables.documents(spark, cdir).select(col("doc_id"), col("text"))) {
      (b, k, st) => minhashStreamApplyBatch(b, k, st, jaccardThreshold = 0.5,
        maxBucket = MinhashMaxBucket, compactEvery = 2,
        idSpan = ClusteredCorpusDocs)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L).stage()
      .orderBy(col("doc_id"))
  }

  /** STREAMING minhash under EVENT-TIME LATENESS through the HASH GATE
    * (VERDICT r16 #6 — the first near-dup tier whose `withLateness`
    * wrapper is oracle-gated, not just spec-covered): the planted
    * 140-doc clustered corpus arrives in four contiguous id-range
    * batches; docs with doc_id % 7 == 3 arriving in epoch ≥ 2 carry an
    * event time two epochs old, so the watermark recurrence quarantines
    * some (true late) and tolerates others (disorder within the bound)
    * — both paths exercised. A quarantined replica must QUARANTINE, not
    * silently vanish or suppress its family's survivor; a quarantined
    * probe must leave the survivor set. Output = folded on-time
    * survivor set UNION quarantine rows; the oracle replays the dense
    * watermark recurrence over range(0, 140) and takes the min on-time
    * id per family (exact-replica Jaccard = 1.0 makes keep-first exact
    * in this regime) — a late doc leaking into the band index, a
    * misclassified tolerated doc, or a dropped quarantine row breaks
    * the hash. Constants shared with the oracle (the q103 pattern).
    * `dir` unused (regime, not scale). */
  def minhashStreamLateClustered(spark: SparkSession, dir: String,
      epochs: Int = Corpus.StreamLateEpochs,
      latenessMicros: Long = Corpus.StreamLatenessMicros): DataFrame = {
    val cdir = clusteredDocsDir(spark)
    val base = StateCache.replay("dedup_stream_minhash_late", Some(cdir),
        epochs, StateCache.Range("doc_id"), Some(latenessMicros))(
        Tables.documents(spark, cdir).select(col("doc_id"), col("text"))) {
      (b, k, st) => minhashStreamApplyBatch(b, k, st, jaccardThreshold = 0.5,
        maxBucket = MinhashMaxBucket, compactEvery = 2,
        idSpan = ClusteredCorpusDocs)
    }
    CdcUpsert.withQuarantine(
        LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L),
        s"$base/late", epochs - 1L, "doc_id")
      .stage().orderBy(col("doc_id"))
  }

  /** Oracle of [[minhashStreamLateClustered]]: the dense watermark
    * recurrence over the planted event times (synthesized from
    * range(0, 140) — the clustered corpus is closed-form), survivors =
    * min on-time id per family, UNION the quarantine rows. */
  val minhashStreamLateClusteredSql: String = {
    val epochs = Corpus.StreamLateEpochs
    val width = ClusteredCorpusDocs / epochs
    s"""WITH t AS (
       |  SELECT x AS doc_id, x // $width AS arr_epoch,
       |    (CASE WHEN x % 7 = 3 AND x // $width >= 2
       |          THEN x // $width - 2 ELSE x // $width END) * 1000000
       |      + (x * 131 % 997) * 1000 AS ts_us
       |  FROM range(0, $ClusteredCorpusDocs) t(x)),
       |m AS (SELECT arr_epoch, MAX(ts_us) AS mx FROM t GROUP BY arr_epoch),
       |w AS (SELECT g.epoch,
       |        MAX(m.mx) OVER (ORDER BY g.epoch
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          - ${Corpus.StreamLatenessMicros} AS wm
       |      FROM range(0, $epochs) g(epoch)
       |      LEFT JOIN m ON m.arr_epoch = g.epoch),
       |lt AS (SELECT t.*, CASE WHEN p.wm IS NOT NULL AND t.ts_us < p.wm
       |              THEN 1 ELSE 0 END AS late
       |       FROM t LEFT JOIN w p ON p.epoch = t.arr_epoch - 1),
       |surv AS (SELECT MIN(doc_id) AS doc_id
       |         FROM lt WHERE late = 0
       |         GROUP BY CASE WHEN doc_id < 120
       |                       THEN doc_id % 40 ELSE doc_id END)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(NULL AS BIGINT) AS quarantine_epoch FROM surv
       |UNION ALL
       |SELECT CAST(doc_id AS BIGINT), CAST(arr_epoch AS BIGINT)
       |FROM lt WHERE late = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** [[simhashStreamClustered]] under the shared event-time lateness
    * protocol through the HASH GATE — the same planted arrival/event
    * scheme as [[minhashStreamLateClustered]] (docs with doc_id % 7 == 3
    * arriving in epoch ≥ 2 carry a two-epoch-old event time; the
    * watermark recurrence quarantines some and tolerates others). On
    * exact replicas the Hamming distance is 0, so the simhash stream's
    * exact survivor set coincides with the minhash stream's keep-first
    * set and the two late gates SHARE one oracle — a tier whose
    * lateness wiring diverges from the shared protocol breaks its hash
    * independently. `dir` unused (regime, not scale). */
  def simhashStreamLateClustered(spark: SparkSession, dir: String,
      epochs: Int = Corpus.StreamLateEpochs,
      latenessMicros: Long = Corpus.StreamLatenessMicros): DataFrame = {
    val cdir = clusteredDocsDir(spark)
    val base = StateCache.replay("dedup_stream_simhash_late", Some(cdir),
        epochs, StateCache.Range("doc_id"), Some(latenessMicros))(
        Tables.documents(spark, cdir).select(col("doc_id"), col("text"))) {
      (b, k, st) => simhashStreamApplyBatch(b, k, st)
    }
    CdcUpsert.withQuarantine(
        LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L),
        s"$base/late", epochs - 1L, "doc_id")
      .stage().orderBy(col("doc_id"))
  }

  /** [[embeddingStreamClustered]] under the shared event-time lateness
    * protocol through the HASH GATE — the fourth and last streaming
    * near-dup tier's lateness form to be oracle-gated (substring r16,
    * minhash/simhash r17). Same planted scheme over the 200-vector
    * clustered corpus (vec_id % 7 == 3 arriving in epoch ≥ 2 is two
    * epochs old); at the recall-1.0 banding parameters the on-time
    * survivor rule is EXACT: keep v iff no on-time u < v with
    * cosine > 0.5 — quarantining only removes pairs, so every remaining
    * true pair still collides. The oracle replays the dense watermark
    * recurrence over the SQL-synthesized corpus and brute-forces the
    * on-time keep-first rule; a late vector leaking into the signature
    * index, a tolerated vector misclassified, or a dropped quarantine
    * row breaks the hash. `dir` unused (regime, not scale). */
  def embeddingStreamLateClustered(spark: SparkSession, dir: String,
      epochs: Int = Corpus.StreamLateEpochs,
      latenessMicros: Long = Corpus.StreamLatenessMicros): DataFrame = {
    val cdir = Similarity.clusteredCorpusDir(spark)
    val base = StateCache.replay("dedup_stream_embedding_late", Some(cdir),
        epochs, StateCache.Range("vec_id"), Some(latenessMicros))(
        Tables.embeddings(spark, cdir).select(col("vec_id"), col("embedding"))) {
      (b, k, st) => embeddingStreamApplyBatch(b, k, st, threshold = 0.5,
        tables = 4, bits = 10, probes = 2, compactEvery = 2, idSpan = 200)
    }
    CdcUpsert.withQuarantine(
        LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L),
        s"$base/late", epochs - 1L, "vec_id")
      .stage().orderBy(col("vec_id"))
  }

  /** Oracle of [[embeddingStreamLateClustered]]: watermark recurrence
    * over the planted event times, then the brute-force on-time
    * keep-first rule over the synthesized corpus (plain-join dup set —
    * the decorrelated shape; see [[embeddingStreamClusteredSql]]'s
    * note on the correlated-subquery cost), UNION the quarantine
    * rows. Constants shared with the Scala defaults (q103 pattern). */
  lazy val embeddingStreamLateClusteredSql: String = {
    val epochs = Corpus.StreamLateEpochs
    val width = 200 / epochs
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""WITH emb AS MATERIALIZED (
       |  ${Similarity.clusteredEmbSql}),
       |t AS (
       |  SELECT vec_id, vec_id // $width AS arr_epoch,
       |    (CASE WHEN vec_id % 7 = 3 AND vec_id // $width >= 2
       |          THEN vec_id // $width - 2 ELSE vec_id // $width END)
       |      * 1000000 + (vec_id * 131 % 997) * 1000 AS ts_us
       |  FROM emb),
       |m AS (SELECT arr_epoch, MAX(ts_us) AS mx FROM t GROUP BY arr_epoch),
       |w AS (SELECT g.epoch,
       |        MAX(m.mx) OVER (ORDER BY g.epoch
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          - ${Corpus.StreamLatenessMicros} AS wm
       |      FROM range(0, $epochs) g(epoch)
       |      LEFT JOIN m ON m.arr_epoch = g.epoch),
       |lt AS MATERIALIZED (
       |  SELECT t.*, CASE WHEN p.wm IS NOT NULL AND t.ts_us < p.wm
       |         THEN 1 ELSE 0 END AS late
       |  FROM t LEFT JOIN w p ON p.epoch = t.arr_epoch - 1),
       |dup AS MATERIALIZED (
       |  SELECT DISTINCT la.vec_id
       |  FROM lt la JOIN lt lb
       |    ON lb.vec_id < la.vec_id AND la.late = 0 AND lb.late = 0
       |  JOIN emb a ON a.vec_id = la.vec_id
       |  JOIN emb b ON b.vec_id = lb.vec_id
       |  WHERE $cos > 0.5)
       |SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |  CAST(NULL AS BIGINT) AS quarantine_epoch
       |FROM lt WHERE late = 0
       |  AND vec_id NOT IN (SELECT vec_id FROM dup)
       |UNION ALL
       |SELECT CAST(vec_id AS BIGINT), CAST(arr_epoch AS BIGINT)
       |FROM lt WHERE late = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** [[exactStreamTtlClustered]]'s tunables — the oracle derives from
    * the SAME values (the q103 shared-constant discipline). */
  val ExactTtlEpochs = 4
  val ExactTtl = 1

  /** One micro-batch of EXACT dedup under a STATE TTL — the
    * bounded-state discipline every 100 TB seen-set eventually needs
    * (an unbounded digest log grows with the corpus forever; a TTL'd
    * one is bounded by ttl · batch): the digest log is epoch-keyed, a
    * batch consults ONLY the last `ttl` epochs' digest dirs (the window
    * read), and expired epoch dirs are DELETED — eviction is a
    * directory drop, never a rewrite. Every arrival refreshes its
    * digest's sighting (sliding-window semantics), so a duplicate whose
    * every prior sighting expired is RESCUED — it re-enters as a fresh
    * survivor; that is the contract's point, not a bug. Same-epoch
    * arrivals keep-first by id. Epoch-keyed overwrites: replay-
    * idempotent. The digest log is NEVER compacted — a fold would merge
    * epochs and break eviction-by-directory. */
  private[graft] def exactStreamTtlApplyBatch(batch: DataFrame,
      batchId: Long, statePath: String, ttl: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val digRoot = s"$statePath/digests"
    val survRoot = s"$statePath/survivors"
    graft.tools.LogState.requireNoFuture(digRoot, batchId)
    graft.tools.LogState.requireNoFuture(survRoot, batchId)
    val sp = batch.sparkSession
    val arr = batch.select(col("doc_id"), md5(col("text")).as("dig"))
      .stage()
    val winPaths = (math.max(0L, batchId - ttl) until batchId)
      .map(j => s"$digRoot/delta/v$j")
      .filter(p => new java.io.File(p).isDirectory)
    val wFirst = Window.partitionBy(col("dig")).orderBy(col("doc_id"))
    val firstInBatch = arr.withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1).drop("rn")
    val keepers =
      if (winPaths.isEmpty) firstInBatch
      else firstInBatch.join(
        LogState.read(sp, digRoot, winPaths).select(col("dig")),
        Seq("dig"), "left_anti")
    arr.select(col("dig")).write.mode("overwrite")
      .parquet(s"$digRoot/delta/v$batchId")
    keepers.select(col("doc_id")).write.mode("overwrite")
      .parquet(s"$survRoot/delta/v$batchId")
    // ACTIVE eviction: the state bound is physical, not just a read
    // discipline — expired epochs leave the filesystem
    (0L until math.max(0L, batchId - ttl)).foreach { j =>
      graft.tools.TempDirs.deleteRecursively(s"$digRoot/delta/v$j")
    }
  }

  /** EXACT dedup under a sliding TTL through the HASH GATE on the
    * planted corpus: width-35 epochs against replica gaps of 40 and 80
    * populate BOTH paths — most second copies arrive one epoch after
    * their base (caught), but bases 30–34's copies land two epochs out
    * (ids 70–74 — RESCUED: every prior sighting expired), and bases
    * 25–29's third copies outrun their refreshed window too (105–109).
    * The oracle replays the sliding-window recurrence in closed form
    * over range(0, 140); a leaked expired digest, a missed refresh, or
    * a dropped rescue breaks the hash. `dir` unused (regime, not
    * scale). */
  def exactStreamTtlClustered(spark: SparkSession, dir: String,
      epochs: Int = ExactTtlEpochs, ttl: Int = ExactTtl): DataFrame = {
    // The oracle assigns epochs as doc_id // (N / epochs); the Range
    // slicing agrees with it only when the widths are exact (ADVICE
    // r17) — a non-divisor epoch count would silently shift some ids'
    // TTL windows between the two engines.
    require(ClusteredCorpusDocs % epochs == 0,
      s"epochs must divide the $ClusteredCorpusDocs-doc planted corpus, got $epochs")
    val cdir = clusteredDocsDir(spark)
    val base = StateCache.replay("dedup_stream_exact_ttl", Some(cdir),
        epochs, StateCache.Range("doc_id"), None, ttl)(
        Tables.documents(spark, cdir).select(col("doc_id"), col("text"))) {
      (b, k, st) => exactStreamTtlApplyBatch(b, k, st, ttl)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L)
      .stage().orderBy(col("doc_id"))
  }

  /** Oracle of [[exactStreamTtlClustered]]: survivor iff no same-family
    * arrival within the last [[ExactTtl]] epochs (any sighting
    * refreshes — b ranges over ALL earlier arrivals, not survivors). */
  val exactStreamTtlClusteredSql: String = {
    val width = ClusteredCorpusDocs / ExactTtlEpochs
    s"""WITH t AS (
       |  SELECT x AS doc_id,
       |    CASE WHEN x < 120 THEN x % 40 ELSE x END AS fam,
       |    x // $width AS e
       |  FROM range(0, $ClusteredCorpusDocs) t(x))
       |SELECT CAST(a.doc_id AS BIGINT) AS doc_id FROM t a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM t b
       |  WHERE b.fam = a.fam AND b.doc_id < a.doc_id
       |    AND b.e >= a.e - $ExactTtl)
       |ORDER BY a.doc_id""".stripMargin
  }

  /** [[minhashIncremental]] / [[simhashIncremental]] through the HASH
    * GATE on the planted corpus (splitId 100 puts the third replica of
    * bases 20–39 and all 20 probes in the delta): the maintained index
    * must reproduce the exact 120-pair set the full-corpus oracle
    * synthesizes — a touched-slice prune that misses a band key, a
    * combined-cap mistake, or a broken delta×delta join drops a pair
    * and breaks the hash. Same oracles as the `_clustered` batch forms
    * (incremental == rebuild is the claim). */
  def minhashIncrementalClustered(spark: SparkSession, dir: String): DataFrame =
    minhashIncremental(spark, clusteredDocsDir(spark), splitId = 100)

  def simhashIncrementalClustered(spark: SparkSession, dir: String): DataFrame =
    simhashIncremental(spark, clusteredDocsDir(spark), splitId = 100)

  // ---------------------------------------------------------------------
  // Exact n-gram Jaccard within buckets (oracle-checkable)
  // ---------------------------------------------------------------------

  /** Block-size guard for ngramJaccard's within-block self-join: blocks up
    * to this many docs pair exactly (O(block²) bounded by the cap²); larger
    * blocks ROUTE TO THE MINHASH PATH — within-block LSH banding over the
    * token sets generates candidates sub-quadratically, and the same exact
    * Jaccard verify runs on the survivors. Every fixture block is ≤32 docs
    * (sf0.1), so the gate result is byte-identical to the unguarded oracle;
    * the escape path is exercised by DedupSpec and the forced-hot-block
    * scale probe. Escape recall is tuned for HIGH-similarity dups
    * (8×8 bands — see the geometry comment in ngramJaccardOf for the
    * per-similarity collision table and the sizing knobs). */
  val MaxBlockExact = 1024

  /** Token-set Jaccard similarity pairs within (lang, source, length)
    * blocks. The block key bounds the self-join (equi-join, never a global
    * cross product) — same bucket-then-verify shape as LSH but with a
    * semantic block, which makes it SQL-expressible for the oracle. The
    * `n_chars DIV 100` length band is the standard blocking trick: near-dup
    * texts have near-equal lengths, and pair count drops quadratically with
    * block granularity. Blocks beyond [[MaxBlockExact]] escape to minhash
    * candidate generation (see ngramJaccardOf). */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.5,
                   maxBlockExact: Int = MaxBlockExact,
                   sorted: Boolean = true): DataFrame =
    ngramJaccardOf(
      Tables.documents(spark, dir)
        .select(col("lang"), col("source"),
          (col("n_chars") / 100).cast("long").as("len_bucket"),
          col("doc_id"),
          array_distinct(tokens(col("text"))).as("toks")),
      threshold, maxBlockExact, sorted)

  /** Scale-probe helper: ngramJaccard with EVERY document forced into a
    * single (lang, source, len_bucket) block — the pathological shape the
    * block-size guard exists for. Bounded wall time here is the guard's
    * empirical evidence (ScaleProbe `dedup_jaccard_hotblock`). */
  private[graft] def ngramJaccardHotBlock(spark: SparkSession, dir: String,
                                          threshold: Double = 0.5): DataFrame =
    ngramJaccardOf(
      Tables.documents(spark, dir)
        .select(lit("xx").as("lang"), lit("hot").as("source"),
          lit(0L).as("len_bucket"), col("doc_id"),
          array_distinct(tokens(col("text"))).as("toks")),
      threshold, MaxBlockExact)

  /** Unsorted pair set for graph/group consumers (pagerank, triangles,
    * dedup groups): the gate query's trailing global ORDER BY exists only
    * for deterministic dump output, but a global sort's RangePartitioner
    * first runs a SAMPLING job that re-executes the entire
    * un-materialized pair pipeline — candidate generation AND the verify
    * UDF — before the real pass. Measured dominating the 100× pagerank
    * edge build; the artifact writes don't need order, so they skip it. */
  private[graft] def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(spark, dir, sorted = false)

  /** Core of ngramJaccard over a prepared (lang, source, len_bucket,
    * doc_id, toks) frame — split out so tests/probes can feed a forced
    * pathological block.
    *
    * NOTE (deliberate eagerness): CONSTRUCTING this frame runs the
    * block-size aggregation immediately — the `stage()` below is
    * eager, and the routing counters ([[graft.tools.RoutingMetrics]]) are
    * read off the materialized hot-block frame at build time. Route
    * selection (which blocks escape) and its observability are build-time
    * facts by design: a consumer composing this frame lazily would
    * otherwise not learn a block was silently rerouted until (unless) the
    * plan executed. Callers that only want EXPLAIN output pay the slim
    * keys-only aggregation — plus, when a block IS oversized, the escape
    * path's banding materialization over the routed docs and the
    * capped-bucket count (route observability is bought at
    * routed-block-mass cost, never corpus cost; a corpus with no
    * oversized block pays only the keys-only agg). */
  private[graft] def ngramJaccardOf(docs0: DataFrame, threshold: Double,
                                    maxBlockExact: Int,
                                    sorted: Boolean = true): DataFrame = {
    val blockKeys = Seq("lang", "source", "len_bucket")
    // Route selection must not itself concentrate the data: block sizes
    // come from a SLIM aggregation (block keys only — partial map-side
    // combine, never the token arrays), and the oversized-block key set —
    // tiny by construction (block cardinality ≪ docs) — broadcasts into
    // semi/anti splits, so the documents frame is tagged map-side and
    // never shuffles just to learn its block size. No persist: each
    // consumer re-runs the codegen'd scan+tokenize, which at scale beats
    // pinning a tokenized copy of the corpus in executor storage.
    val hotAgg = docs0
      .groupBy(blockKeys.map(col): _*).count()
      .filter(col("count") > maxBlockExact)
      .stage()
    // Routing observability: the guard's decisions are recorded as
    // counters (drained per query by Bench into bench_full.json). The
    // counts come from the ALREADY-materialized hot-block frame — a
    // driver-side fold over ≤|oversized blocks| rows, no extra scan.
    val hotRows = hotAgg.collect()
    graft.tools.RoutingMetrics.add("jaccard_oversized_blocks", hotRows.length)
    graft.tools.RoutingMetrics.add("jaccard_docs_routed",
      hotRows.map(_.getAs[Long]("count")).sum)
    val escapeActive = hotRows.nonEmpty
    val hotBlocks = broadcast(hotAgg.select(blockKeys.map(col): _*))
    val small = docs0.join(hotBlocks, blockKeys, "left_anti")
    val big = docs0.join(hotBlocks, blockKeys, "left_semi")

    // exact route: block-keyed self-join, the oracle twin
    val aS = small.select(col("lang"), col("source"), col("len_bucket"),
      col("doc_id").as("a_id"), col("toks").as("a_toks"))
    val bS = small.select(col("lang"), col("source"), col("len_bucket"),
      col("doc_id").as("b_id"), col("toks").as("b_toks"))
    val exactPairs = aS.join(bS, blockKeys)
      .filter(col("a_id") < col("b_id"))

    // escape route for oversized blocks: minhash-LSH banding over the
    // token sets WITHIN the block (slim shuffle — doc_id + band key only,
    // the arrays rejoin for survivors), then the same exact verify. The
    // band bucket is additionally capped like the minhash op so a
    // degenerate band value can't rebuild the quadratic we just avoided.
    //
    // Band geometry is 8 bands × 8 rows — NOT the shingle op's 16×4.
    // TOKEN-level minhash members are dominated by each block's common
    // tokens (the min over a doc's tokens is often a stopword's hash), so
    // 4-row band sigs collide for swaths of UNRELATED same-language docs:
    // at the 100× probe those junk buckets sat just under the skew cap
    // and flooded the verify with ~100× the true near-dup candidates
    // (and where they EXCEEDED the cap, they were dropped and silently
    // cost real pairs — the 20× hot-block probe found 2.48 M pairs at
    // 16×4 vs 5.07 M at 8×8). An 8-row band needs 8 simultaneous common
    // mins, so junk buckets vanish. The honest recall cost, collide-on-
    // ≥1-band = 1−(1−s⁸)⁸ by token-Jaccard s, INSIDE OVERSIZED BLOCKS
    // ONLY (every block under the cap pairs exactly):
    //   s=0.95 → ~1.0   s=0.8 → 0.77   s=0.7 → 0.37   s=0.6 → 0.13
    //   s=0.5 → 0.03
    // i.e. the escape path is a HIGH-SIMILARITY dup catcher; a corpus
    // whose >MaxBlockExact blocks carry load-bearing MID-similarity
    // pairs should raise MaxBlockExact (exact is then O(block²)) or
    // widen EscapeBands — sizing knobs, both deliberate.
    val EscapeBands = 8
    val bandJoinKeys = blockKeys :+ "band" :+ "band_sig"
    // The explicit repartition pins the band self-join's parallelism:
    // the banded frame is SLIM (~24 B/row), so AQE's byte-based
    // coalescing would shrink it to a couple of partitions — and the
    // C(bucket, 2) pair fan-out below then runs on 2 cores (observed as
    // a 2-task multi-minute tail at the 100× probe). An explicit count
    // is exempt from AQE coalescing; the window below reuses the same
    // hash partitioning, so this adds no extra exchange.
    val fanoutParts = docs0.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val bandedAll0 = lshBands(big,
        Seq(col("lang"), col("source"), col("len_bucket"), col("doc_id")),
        graft.functions.TextKernels.tokenBandsUdf(col("toks"), lit(NumHashes), lit(EscapeBands)))
      .repartition(fanoutParts, bandJoinKeys.map(col): _*)
      .withColumn("bucket_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(bandJoinKeys.map(col): _*)))
    // When the escape route is live, materialize the slim banded frame
    // once (doc_id + band key + count, ~32 B/row): the skew-cap counter
    // below AND both self-join sides read it without re-running the
    // signature pass. When no block is oversized the escape side of the
    // union is empty — leave it lazy (an eager checkpoint here would add
    // a full tokenize pass to every guarded query on a healthy corpus)
    // and record the cap counter as zero directly.
    val bandedAll =
      if (escapeActive) bandedAll0.stage() else bandedAll0
    graft.tools.RoutingMetrics.add("jaccard_capped_band_buckets",
      if (escapeActive)
        bandedAll.filter(col("bucket_n") > MinhashMaxBucket)
          .select(bandJoinKeys.map(col): _*).distinct().count()
      else 0L)
    val banded = bandedAll.filter(col("bucket_n") <= MinhashMaxBucket)
    val candidates = banded
      .select((bandJoinKeys.map(col) :+ col("doc_id").as("a_id")): _*)
      .join(banded.select(
          (bandJoinKeys.map(col) :+ col("doc_id").as("b_id")): _*),
        bandJoinKeys)
      .filter(col("a_id") < col("b_id"))
      .select(col("lang"), col("source"), col("len_bucket"),
        col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val bigToks = big.select(col("doc_id"), col("toks"))
    val escapePairs = candidates
      .join(bigToks.select(col("doc_id").as("a_id"), col("toks").as("a_toks")), Seq("a_id"))
      .join(bigToks.select(col("doc_id").as("b_id"), col("toks").as("b_toks")), Seq("b_id"))

    val verified = exactPairs.unionByName(escapePairs
        .select(exactPairs.columns.toIndexedSeq.map(col): _*))
      // compiled jaccard kernel: two token-less docs give 0/0 → kernel
      // returns null → dropped at the filter, matching the oracle; the
      // interpreted array_intersect/array_union pair (the 100×-probe
      // verify bottleneck) never runs
      .withColumn("jaccard", graft.functions.TextKernels.jaccardUdf(
        col("a_toks"), col("b_toks")))
      .filter(col("jaccard") >= threshold)
      .select(col("lang"), col("source"), col("a_id"), col("b_id"), col("jaccard"))
    if (sorted) verified.orderBy(col("lang"), col("source"), col("a_id"), col("b_id"))
    else verified
  }

  val ngramJaccardSql: String =
    s"""SELECT a.lang, a.source, a.a_id, b.b_id,
       |  CAST(len(list_filter(a.a_toks, t -> list_contains(b.b_toks, t))) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(a.a_toks, b.b_toks))) AS DOUBLE) AS jaccard
       |FROM (SELECT lang, source, n_chars // 100 AS len_bucket, doc_id AS a_id, list_distinct($tokensSql) AS a_toks FROM documents) a
       |JOIN (SELECT lang, source, n_chars // 100 AS len_bucket, doc_id AS b_id, list_distinct($tokensSql) AS b_toks FROM documents) b
       |  ON a.lang = b.lang AND a.source = b.source AND a.len_bucket = b.len_bucket AND a.a_id < b.b_id
       |WHERE CAST(len(list_filter(a.a_toks, t -> list_contains(b.b_toks, t))) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(a.a_toks, b.b_toks))) AS DOUBLE) >= 0.5
       |ORDER BY a.lang, a.source, a_id, b_id""".stripMargin

  // ---------------------------------------------------------------------
  // Block-guard escape path, driver-visible (VERDICT r7 "next round" #1)
  // ---------------------------------------------------------------------

  /** Injectable cap for the guarded gate entry — low enough that the
    * planted block (480 docs) routes to the escape path while every
    * natural fixture block (≤32 docs at sf0.1) stays on the exact route,
    * so ONE query exercises BOTH routes against one oracle. */
  val GuardedCap = 64
  val PlantedBlockDocs = 60
  val PlantedVariants = 8

  /** The block-guard ESCAPE path through the bitwise driver gate: the
    * fixture corpus augmented with ONE planted oversized block — every doc
    * with doc_id < [[PlantedBlockDocs]] contributes [[PlantedVariants]]
    * variant rows with IDENTICAL token sets (ids max(doc_id)+1 + doc_id·V
    * + i — above every natural id at any SF),
    * all forced into a single ('xx','hot',0) block of 480 docs >
    * [[GuardedCap]], so the routing, within-block banding, skew cap and
    * exact verify all run and produce CORRECTNESS rows (previously the
    * escape route's equivalence lived only in DedupSpec and the hot-block
    * probe — the `sim_topk_ann_lsh` precedent).
    *
    * Threshold 1.0 makes the escape recall PROVABLY exact rather than
    * probabilistically near-1 (ADVICE r7: the 8×8 banding's recall < 1 at
    * mid similarity would silently diverge from the oracle): a pair
    * qualifies iff its token SETS are identical, identical sets hash to
    * identical minhash signatures, identical signatures collide on every
    * band, and the planted buckets stay ≤ 2·V = 16 ≪ the 200-bucket skew
    * cap (max identical-set cluster among the planted docs is 2 at every
    * SF — measured), so no qualifying pair can be capped away. The
    * equality with the naive O(block²) oracle is therefore deterministic
    * BY CONSTRUCTION at any scale factor, not an empirical coincidence of
    * one hash family. Mid-similarity recall inside oversized blocks
    * remains the documented sizing knob (see ngramJaccardOf); this entry
    * pins the high-similarity contract the escape path is designed for. */
  def ngramJaccardGuarded(spark: SparkSession, dir: String,
                          maxBlockExact: Int = GuardedCap): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Planted ids start ABOVE the natural max: the escape path (and the
    // whole pair pipeline) assumes corpus-unique doc_ids — a fixed base
    // would collide on any corpus with more documents than it.
    val idBase = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val natural = docs.select(col("lang"), col("source"),
      (col("n_chars") / 100).cast("long").as("len_bucket"),
      col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    val planted = docs
      .filter(col("doc_id") < PlantedBlockDocs)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("toks"),
        explode(sequence(lit(0), lit(PlantedVariants - 1))).as("i"))
      .select(lit("xx").as("lang"), lit("hot").as("source"),
        lit(0L).as("len_bucket"),
        (lit(idBase) + col("doc_id") * PlantedVariants + col("i")).as("doc_id"),
        col("toks"))
    ngramJaccardOf(natural.unionByName(planted), threshold = 1.0,
      maxBlockExact = maxBlockExact)
  }

  /** DuckDB twin of ngramJaccardGuarded: the same corpus construction
    * (natural blocks ∪ planted variant block) pairs naively within blocks
    * — the oracle has no routing, so the hash match IS the escape-path
    * equivalence claim. */
  val ngramJaccardGuardedSql: String =
    s"""WITH corpus AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket, doc_id,
       |         list_distinct($tokensSql) AS toks
       |  FROM documents
       |  UNION ALL
       |  SELECT 'xx', 'hot', CAST(0 AS BIGINT),
       |         (SELECT max(doc_id) + 1 FROM documents)
       |           + doc_id * $PlantedVariants + v.i,
       |         list_distinct($tokensSql)
       |  FROM documents, range($PlantedVariants) v(i)
       |  WHERE doc_id < $PlantedBlockDocs)
       |SELECT a.lang, a.source, a.doc_id AS a_id, b.doc_id AS b_id,
       |  CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE) /
       |  CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
       |FROM corpus a JOIN corpus b
       |  ON a.lang = b.lang AND a.source = b.source
       | AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE) /
       |      CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 1.0
       |ORDER BY a.lang, a.source, a_id, b_id""".stripMargin

  // ---------------------------------------------------------------------
  // Incremental band-index maintenance (VERDICT r7 "next round" #2)
  // ---------------------------------------------------------------------

  /** Incremental n-gram-Jaccard near-dup maintenance — the
    * dedup_incremental anti-join pattern lifted to the blocked pair graph:
    * the historical pair set (docs with doc_id < splitId) is a persisted
    * build-once artifact; a new batch pairs ONLY against the blocks it
    * touches (historical side pruned by a broadcast semi-join on the
    * delta's block keys) plus itself. Since block membership is semantic
    * (lang, source, length band) and every pair either lies wholly in the
    * history (artifact) or touches a new doc (delta join), artifact ∪
    * delta EQUALS the full recompute — and the oracle IS the full
    * recompute, so the equality is hash-checked bitwise, the q78_incr_agg
    * shape. Delta cost ∝ |delta| × touched-block width, never corpus
    * size; a delta landing in an oversized block pays |block|·|delta∩block|
    * (linear in block size — the quadratic guard applies to the historical
    * build, which routes through ngramJaccardOf's escape path). */
  def ngramJaccardIncremental(spark: SparkSession, dir: String,
                              splitId: Long = 400,
                              threshold: Double = 0.5): DataFrame = {
    val blockKeys = Seq("lang", "source", "len_bucket")
    val docs = Tables.documents(spark, dir)
      .select(col("lang"), col("source"),
        (col("n_chars") / 100).cast("long").as("len_bucket"),
        col("doc_id"), array_distinct(tokens(col("text"))).as("toks"))
    val newDocs = docs.filter(col("doc_id") >= splitId)
    // build-once historical artifact (pairs among pre-split docs) —
    // keyed by the threshold the pair set depends on, so a same-JVM call
    // at a different threshold never reads a stale artifact
    val histPairs = graft.tools.ArtifactCache.parquet(spark, dir,
      s"pairs_jaccard_lt${splitId}_t$threshold") { p =>
      ngramJaccardOf(docs.filter(col("doc_id") < splitId), threshold,
        MaxBlockExact, sorted = false)
        .write.mode("overwrite").parquet(p)
    }
    // delta: historical side restricted to touched blocks before the pair
    // join — the block-key set of a batch is tiny, so it broadcasts and
    // the corpus is pruned map-side (cost ∝ delta, not history)
    val touched = broadcast(
      newDocs.select(blockKeys.map(col): _*).distinct().stage())
    val aSide = docs.join(touched, blockKeys, "left_semi")
      .select(col("lang"), col("source"), col("len_bucket"),
        col("doc_id").as("a_id"), col("toks").as("a_toks"))
    val bSide = newDocs
      .select(col("lang"), col("source"), col("len_bucket"),
        col("doc_id").as("b_id"), col("toks").as("b_toks"))
    val deltaPairs = aSide.join(bSide, blockKeys)
      .filter(col("a_id") < col("b_id"))
      .withColumn("jaccard", graft.functions.TextKernels.jaccardUdf(
        col("a_toks"), col("b_toks")))
      .filter(col("jaccard") >= threshold)
      .select(col("lang"), col("source"), col("a_id"), col("b_id"), col("jaccard"))
    histPairs.unionByName(deltaPairs)
      .orderBy(col("lang"), col("source"), col("a_id"), col("b_id"))
  }

  /** Incremental MINHASH band-index maintenance — the LSH analogue of
    * ngramJaccardIncremental, motivated by the 100× probes: the one-time
    * pair-graph build dominates (pagerank: 307 s build vs 50 s supersteps),
    * so a refresh must not rebuild the band index from scratch. The
    * historical corpus persists TWO build-once artifacts: the slim band
    * index (doc_id, band, band_sig — 16 rows/doc, ~24 B each) and its
    * verified pair set. A new batch then: (1) signs and bands ONLY its own
    * docs; (2) prunes the historical index to the band keys the delta
    * touches via a broadcast semi-join (delta keys ≪ index); (3) applies
    * the skew cap on the COMBINED bucket size (hist + delta counts per
    * key, so capping matches what a full rebuild would decide); (4) joins
    * delta×hist + delta×delta candidates and exact-verifies survivors.
    * Delta cost ∝ |delta| + |touched index slice|, never corpus size —
    * probe-measured (ScaleProbe `dedup_incr_minhash`).
    *
    * Cap-crossing buckets (a bucket legal at build time that the delta
    * pushes over the cap) are handled, not just documented: the merged
    * form retracts every historical pair whose ONLY witnessing buckets
    * crossed, recomputed from the persisted index rather than pair→band
    * provenance ([[retractCrossedPairs]]) — so incremental == full
    * rebuild unconditionally, spec-pinned both on the fixture (no
    * crossing) and on a forced-crossing corpus. The `deltaOnly` additions
    * feed cannot express retractions; a production append-only consumer
    * must also consume the crossing-key feed or use the merged form. */
  /** `deltaOnly = true` returns JUST the new pairs (unsorted) — the shape
    * a production refresh appends to the stored pair set. The default
    * (gate) form re-emits history ∪ delta sorted, which costs a
    * corpus-proportional union + global sort that is RESULT EMISSION, not
    * refresh work; probes measure the deltaOnly form so the recurring
    * term isn't buried under it. */
  def minhashIncremental(spark: SparkSession, dir: String,
                         splitId: Long = 400,
                         jaccardThreshold: Double = 0.5,
                         maxBucket: Int = MinhashMaxBucket,
                         deltaOnly: Boolean = false): DataFrame = {
    val all = Tables.rebalanced(Tables.documents(spark, dir))
    val oldDocs = all.filter(col("doc_id") < splitId)
    val newDocs = all.filter(col("doc_id") >= splitId)
    val histIndex = graft.tools.ArtifactCache.parquet(spark, dir,
      s"band_index_lt$splitId") { p =>
      bandRows(oldDocs).write.mode("overwrite").parquet(p)
    }
    // delta band rows, materialized once: key counts, the key broadcast,
    // and both candidate joins all read them (a batch is small by
    // definition — a corpus-sized "delta" is a rebuild, not a refresh)
    val deltaIndex = bandRows(newDocs).stage()
    val delta = deltaVerifiedPairs(histIndex, deltaIndex,
      ids => shingleSetsOf(all.join(ids, Seq("doc_id"), "left_semi")),
      jaccardThreshold, maxBucket)
    // deltaOnly is the ADDITIONS feed (what a refresh appends); the
    // merged form below also applies cap-crossing RETRACTIONS, which an
    // append-only consumer cannot express
    if (deltaOnly) delta.pairs
    else {
      // build-once historical pair artifact — keyed by every parameter
      // the pair set depends on, so a same-JVM call at a different
      // threshold/cap can never read a stale artifact
      val histPairs = graft.tools.ArtifactCache.parquet(spark, dir,
        s"pairs_minhash_lt${splitId}_t${jaccardThreshold}_b$maxBucket") { p =>
        minhashOf(Tables.documents(spark, dir).filter(col("doc_id") < splitId),
          jaccardThreshold, maxBucket, sorted = false)
          .write.mode("overwrite").parquet(p)
      }
      retractCrossedPairs(histPairs, histIndex, deltaIndex,
        delta.crossingKeys, maxBucket)
        .unionByName(delta.pairs)
        .orderBy(col("a_id"), col("b_id"))
    }
  }

  /** Shared core of the incremental and streaming refresh paths: verified
    * near-dup pairs between a delta's band rows and the historical band
    * index, plus delta×delta. The historical index is pruned to the band
    * keys the delta touches via a broadcast semi-join BEFORE anything
    * else reads it (the only part of the corpus-sized index a refresh
    * reads); the skew cap applies to the COMBINED (hist + delta) bucket
    * size, matching the decision a full rebuild would make for every
    * touched key; and the verify tokenizes CANDIDATE docs only — the
    * candidate id set is ∝ delta × bucket width, so it broadcasts.
    * `verifyShingles` maps that broadcast candidate-id frame (doc_id) to
    * (doc_id, shingles) rows covering every doc either side can
    * reference — a semi-joined re-shingle of the corpus store (the
    * incremental path) or a pruned read of a persisted shingle store
    * (the streaming path). Returns (a_id, b_id, jaccard), unsorted. */
  private def deltaVerifiedPairs(histIndex: DataFrame, deltaIndex: DataFrame,
                                 verifyShingles: DataFrame => DataFrame,
                                 jaccardThreshold: Double,
                                 maxBucket: Int): DeltaPairs = {
    val (unstaged, crossingKeys) =
      deltaCandidatePairs(histIndex, deltaIndex, maxBucket)
    // staged: both the candidate-id broadcast and the verify join read it
    val candidates = unstaged.stage()
    // the distinct runs inside the broadcast exchange build itself — an
    // eager staging job before the broadcast bought nothing but one more
    // scheduler round-trip (candidates is already materialized)
    val candIds = broadcast(candidates.select(col("a_id").as("doc_id"))
      .unionByName(candidates.select(col("b_id").as("doc_id")))
      .distinct())
    val sh = verifyShingles(candIds)
    val pairs = candidates
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard", graft.functions.TextKernels.jaccardUdf(
        col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    DeltaPairs(pairs, crossingKeys)
  }

  /** Hamming analogue of [[deltaVerifiedPairs]] for the banded-Hamming
    * family (the incremental refresh and the stream core): same
    * candidate kernel (touched-slice pruning, combined-bucket cap,
    * crossing detection), verification = exact `bit_count(xor)`. Both
    * indexes are [[hammingBandRows]], so each candidate carries its two
    * fingerprints out of the kernel — no fingerprint lookup join. */
  private def deltaHammingPairs(histIndex: DataFrame, deltaIndex: DataFrame,
                                maxHamming: Int,
                                maxBucket: Int): DeltaPairs = {
    val (candidates, crossingKeys) =
      deltaCandidatePairs(histIndex, deltaIndex, maxBucket, carry = Seq("fp"))
    val pairs = candidates
      .withColumn("hamming", expr("bit_count(a_fp ^ b_fp)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
    DeltaPairs(pairs, crossingKeys)
  }

  /** Shared candidate kernel of the incremental/streaming refresh paths
    * (minhash through [[deltaVerifiedPairs]], the banded-Hamming family
    * through [[deltaHammingPairs]]): candidate (a_id, b_id) pairs between a
    * delta's band rows and the historical band index, plus delta×delta,
    * with the historical index pruned to touched keys and the skew cap
    * applied on COMBINED bucket sizes; also returns the (tiny) crossing
    * key set. Each `carry` column of the index rows (a per-doc value,
    * such as the Hamming family's fp) rides out as `a_<c>` / `b_<c>`.
    * The candidates come back unstaged: a caller that reads them twice
    * stages them, a single consumer folds them into its own job. */
  private def deltaCandidatePairs(histIndex: DataFrame,
                                  deltaIndex: DataFrame,
                                  maxBucket: Int,
                                  carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val bandCols = Seq("band", "band_sig")
    val deltaCounts = deltaIndex.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("d_n"))
    val touchedHist = histIndex
      .join(broadcast(deltaCounts.select(bandCols.map(col): _*)),
        bandCols, "left_semi")
      .stage()
    val histCounts = touchedHist.groupBy(bandCols.map(col): _*)
      .agg(count(lit(1)).as("h_n"))
    // NOT staged: both consumers (okKeys' broadcast build, the
    // crossingKeys isEmpty probe) aggregate over already-staged inputs
    // (touchedHist, the caller's staged delta index), so recomputing the
    // tiny count join is cheaper than an extra eager-staging job — every
    // job pays the scheduler dispatch floor (~100 ms on a busy driver)
    val keyCounts = deltaCounts
      .join(histCounts, bandCols, "left_outer")
      .withColumn("h_n", coalesce(col("h_n"), lit(0L)))
    val okKeys = broadcast(keyCounts
      .filter(col("h_n") + col("d_n") <= maxBucket)
      .select(bandCols.map(col): _*))
    // CROSSING keys: historically legal (h_n ≤ cap, so the hist build
    // paired inside them) but over the cap once the delta lands — the
    // keys whose historical pairs a full rebuild would refuse to form.
    // Returned so the caller can retract; tiny by construction.
    val crossingKeys = keyCounts
      .filter(col("h_n") <= maxBucket &&
        col("h_n") + col("d_n") > maxBucket)
      .select(bandCols.map(col): _*)
    val dOk = deltaIndex.join(okKeys, bandCols, "left_semi")
    val hOk = touchedHist.join(okKeys, bandCols, "left_semi")
    // The delta side BROADCASTS in both candidate joins (guide §3.1): a
    // batch is small by definition — a corpus-sized "delta" is a rebuild,
    // not a refresh — so its capped band rows fit any executor at any
    // corpus size, and the hist-side join runs with NO exchange of the
    // touched index slice (2 fewer shuffles, each of which AQE would
    // otherwise materialize as its own dispatch-floored stage job).
    def side(rows: DataFrame, s: String): DataFrame =
      rows.select(Seq(col("band"), col("band_sig"), col("doc_id").as(s"${s}_id")) ++
        carry.map(c => col(c).as(s"${s}_$c")): _*)
    val dOkB = broadcast(side(dOk, "b"))
    val candidates = side(hOk, "a").join(dOkB, bandCols)
      .unionByName(side(dOk, "a").join(dOkB, bandCols))
      .filter(col("a_id") < col("b_id"))
      .select((Seq("a_id", "b_id") ++
        carry.flatMap(c => Seq(s"a_$c", s"b_$c"))).map(col): _*)
      .dropDuplicates("a_id", "b_id")
    (candidates, crossingKeys)
  }

  /** Result of [[deltaVerifiedPairs]]: the verified new pairs plus the
    * (tiny) set of band keys the delta pushed over the skew cap —
    * historical pairs witnessed ONLY by those keys must be retracted to
    * equal a full rebuild (see [[retractCrossedPairs]]). */
  private final case class DeltaPairs(pairs: DataFrame, crossingKeys: DataFrame)

  /** Historical pairs a full rebuild would NOT form after the delta: a
    * rebuild pairs (a, b) iff SOME shared band key has combined (hist +
    * delta) bucket size ≤ cap, so a hist pair is retracted iff every one
    * of its shared keys is now over the cap. Suspects are limited to
    * pairs with BOTH endpoints inside a crossing bucket (a pair with an
    * endpoint outside shares no crossing key, so its witnesses are
    * untouched); for those few docs the index slice, combined key counts,
    * and witness join are all ∝ crossing-bucket mass, not corpus size.
    * Runs only when a crossing key exists — the common refresh pays one
    * small isEmpty job on an already-materialized counts frame. */
  private def retractCrossedPairs(histPairs: DataFrame, histIndex: DataFrame,
                                  deltaIndex: DataFrame,
                                  crossingKeys: DataFrame,
                                  maxBucket: Int): DataFrame = {
    if (crossingKeys.isEmpty) return histPairs
    val bandCols = Seq("band", "band_sig")
    val crossDocs = broadcast(histIndex
      .join(broadcast(crossingKeys), bandCols, "left_semi")
      .select(col("doc_id")).distinct().stage())
    val suspects = histPairs
      .join(crossDocs.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_semi")
      .join(crossDocs.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
      .stage()
    // every band key a suspect doc sits in, and that key's combined size
    val suspectIdx = histIndex
      .join(crossDocs, Seq("doc_id"), "left_semi").stage()
    val suspectKeys = broadcast(
      suspectIdx.select(bandCols.map(col): _*).distinct().stage())
    val combined = histIndex.join(suspectKeys, bandCols, "left_semi")
      .groupBy(bandCols.map(col): _*).agg(count(lit(1)).as("h_n"))
      .join(deltaIndex.join(suspectKeys, bandCols, "left_semi")
          .groupBy(bandCols.map(col): _*).agg(count(lit(1)).as("d_n")),
        bandCols, "left_outer")
    val validKeys = broadcast(combined
      .filter(col("h_n") + coalesce(col("d_n"), lit(0L)) <= maxBucket)
      .select(bandCols.map(col): _*).stage())
    val retained = suspects
      .join(suspectIdx.select(col("doc_id").as("a_id"), col("band"), col("band_sig")),
        Seq("a_id"))
      .join(suspectIdx.select(col("doc_id").as("b_id"), col("band"), col("band_sig")),
        Seq("b_id", "band", "band_sig"))
      .join(validKeys, bandCols, "left_semi")
      .select(col("a_id"), col("b_id")).distinct()
    val retract = broadcast(
      suspects.select(col("a_id"), col("b_id"))
        .join(retained, Seq("a_id", "b_id"), "left_anti").stage())
    histPairs.join(retract, Seq("a_id", "b_id"), "left_anti")
  }

  // ---------------------------------------------------------------------
  // Streaming near-dup dedup (VERDICT r7 "next round" #3)
  // ---------------------------------------------------------------------

  /** One micro-batch of streaming MinHash dedup against the persistent
    * band index — extracted from the foreachBatch closure so the
    * crash-replay spec can drive it directly. Reads the IMMUTABLE
    * v(batchId−1) state (band index + survivor set), writes v(batchId):
    * foreachBatch is at-least-once, and a replay recomputes vN from the
    * same unchanged inputs — idempotent, the q87 versioned-state protocol.
    *
    * Per batch: (1) arriving docs sign, band, and shingle ONCE (cost ∝
    * batch); (2) the historical index is pruned to the band keys the
    * batch touches via a broadcast semi-join BEFORE anything else reads
    * it; (3) the skew cap applies to the combined (index + batch) bucket
    * size; (4) candidates = batch×index ∪ batch×batch, exact-verified
    * against the state's own SHINGLE STORE — a doc_id-range-partitioned
    * [[graft.tools.RangeState]] log the batch appends its shingle sets
    * to, so the verify reads ONLY the partitions holding candidate ids
    * and the corpus lake is never scanned after ingest (the v1 protocol
    * re-read the candidate docs' text from the corpus store every epoch:
    * a full text-column scan per micro-batch at any corpus size). Ids
    * arrive ordered, so a batch's own shingles land in one or two
    * partitions; the historical side prices in candidate locality, not
    * corpus size. A doc is a duplicate iff a verified
    * near-dup with a SMALLER doc_id exists — arrival order is id order, so
    * the final survivor set equals the batch rule "keep doc d iff no
    * verified pair (a, d) with a < d", which the spec recomputes from the
    * batch minhash operator. ALL arrivals enter the index (a dropped dup
    * still witnesses later dups — same pair semantics as the batch op).
    *
    * Cap semantics are INGEST-TIME: each batch caps on the combined
    * (index-so-far + batch) bucket size, so a bucket that crosses the cap
    * only in a LATER batch keeps the survivor decisions already published
    * — unlike [[minhashIncremental]], which retracts, a stream cannot
    * un-publish. On a corpus whose buckets cross mid-stream the final
    * survivor set is therefore the ingest-ordered decision sequence, not
    * the batch operator's final-count capping; equality with the batch
    * rule holds whenever no bucket crosses during the run. */
  private[graft] def minhashStreamApplyBatch(batch: DataFrame,
                                             batchId: Long, statePath: String,
                                             jaccardThreshold: Double,
                                             maxBucket: Int,
                                             compactEvery: Int = 8,
                                             shinglePartitions: Int = 16,
                                             idSpan: Long = -1): Unit = {
    val sp = batch.sparkSession
    val indexRoot = s"$statePath/index"
    val survRoot = s"$statePath/survivors"
    val shRoot = s"$statePath/shingles"
    Seq(indexRoot, survRoot)
      .foreach(graft.tools.LogState.requireNoFuture(_, batchId))
    graft.tools.RangeState.requireNoFuture(shRoot, batchId)
    val t0 = System.nanoTime()
    val arriving = batch.select(col("doc_id"), col("text")).stage()
    val newBands = bandRows(arriving).stage()
    // the shingle store's range boundaries: the id span when the caller
    // knows it (minhashStream does), else seeded from the first batch —
    // with id-ordered arrival that parks later ids in the top partition,
    // which costs pruning balance, never correctness (routing is layout)
    val bounds = graft.tools.RangeState.freezeUniform(shRoot,
      if (idSpan > 0) idSpan
      else 2 * (arriving.agg(max(col("doc_id"))).head.getLong(0) + 1),
      shinglePartitions)
    // publish the batch's shingle sets BEFORE the verify so the store
    // as-of batchId covers both candidate sides (hist docs from their own
    // batches, the batch from this write); overwrite keyed by batchId —
    // the same replay contract as the other two state tables
    val touchedSh = graft.tools.RangeState.publishDelta(shRoot, batchId,
      shingleSetsOf(arriving),
      graft.tools.RangeState.bucketCol(bounds, col("doc_id")))
    // publish-side twin of the sh_read counters: id-ordered arrival lands
    // a batch's shingles in 1–2 partitions; a shuffled arrival order
    // would smear them — visible here before it costs read pruning
    graft.tools.RoutingMetrics.add("sh_publish_parts", touchedSh.size.toLong)
    // both state tables are APPEND-ONLY (the index accretes band rows, a
    // survivor never un-survives), so the log-structured layout's fold is
    // a plain union: epoch N writes ONLY the batch's band rows and the
    // batch's survivors — O(batch), flat in index size — where the v1
    // protocol rewrote the full index and survivor set every epoch
    // (write cost ∝ corpus-so-far). Readers union the newest base plus
    // the ≤ compactEvery deltas after it (LogState.pathsAsOf).
    val histPaths = graft.tools.LogState.pathsAsOf(indexRoot, batchId - 1)
    val histIndex =
      if (histPaths.nonEmpty) LogState.read(sp, indexRoot, histPaths)
      else newBands.limit(0)
    // the shared refresh core: batch×index ∪ batch×batch candidates,
    // combined-bucket skew cap, candidate-pruned exact verify. A doc is a
    // duplicate iff it is the LATER side (b_id) of a verified pair —
    // arrival order is id order, so this is the batch "no earlier
    // near-dup" rule.
    val verifyFromStore: DataFrame => DataFrame = candIds => {
      // ≤ shinglePartitions buckets off the already-materialized
      // broadcast candidate set: only the candidate-bearing slices of
      // the store are listed or scanned
      val (store, bucketsRead) = graft.tools.RangeState.readForKeys(sp,
        shRoot, bounds, candIds, "doc_id", batchId)(shingleSetsOf(arriving).limit(0))
      // Pruning observability (VERDICT r8 #8): how many of the store's
      // partitions this batch's verify actually listed/read, vs how many
      // hold state. On id-local traffic buckets ≈ the batch's own ranges;
      // on a worst-case corpus (every batch touches every cluster) it
      // approaches the whole store — drained per query into the bench
      // routing map, and per batch by the id-local scale probe.
      graft.tools.RoutingMetrics.add("sh_buckets_read", bucketsRead.toLong)
      graft.tools.RoutingMetrics.add("sh_buckets_total",
        graft.tools.RangeState.partDirs(shRoot).size.toLong)
      graft.tools.RoutingMetrics.add(f"sh_read_b$batchId%03d",
        bucketsRead.toLong)
      store.join(candIds, Seq("doc_id"), "left_semi")
    }
    val dupIds = deltaVerifiedPairs(histIndex, newBands,
      verifyFromStore, jaccardThreshold, maxBucket)
      .pairs
      .select(col("b_id").as("doc_id"))
      .distinct()
    val batchSurvivors = arriving.select(col("doc_id"))
      .join(dupIds, Seq("doc_id"), "left_anti")
    // replay contract (LogState Scaladoc): both writes are overwrites
    // keyed by batchId, derived from the replayed batch + state < batchId
    newBands.write.mode("overwrite").parquet(s"$indexRoot/delta/v$batchId")
    batchSurvivors.write.mode("overwrite")
      .parquet(s"$survRoot/delta/v$batchId")
    // per-batch cost vs index growth is the operator's scaling curve —
    // recorded as a phase so probes/bench expose it per micro-batch
    graft.tools.PhaseTiming.record(f"epoch$batchId%03d",
      (System.nanoTime() - t0) / 1e9)
    // identity fold: all three tables are append-only, compaction is pure
    // file-count control for reader fan-in. The shingle store maintains
    // per touched partition (fan-in trigger), so its compaction prices in
    // the batch's id locality, not store size.
    graft.tools.LogState.maintain(sp, Seq(indexRoot, survRoot), batchId,
      compactEvery)(identity)
    val tsc = System.nanoTime()
    if (graft.tools.RangeState.maintainTouched(sp, touchedSh, batchId,
        compactEvery)(identity) > 0)
      graft.tools.PhaseTiming.record(f"shcompact$batchId%03d",
        (System.nanoTime() - tsc) / 1e9)
  }

  /** Streaming near-dup dedup end to end: the documents table streamed in
    * id-ordered chunks (maxFilesPerTrigger=1 → one chunk per micro-batch,
    * chunk files stamped with increasing mtimes so the file source admits
    * them in id order), each batch probing and extending the persistent
    * band index via [[minhashStreamApplyBatch]]. Returns the final
    * survivor set — equal to batch minhash dedup over the full corpus
    * ("keep d iff no verified near-dup with a smaller id"), which
    * DedupSpec recomputes from the batch operator; the driver gate records
    * the rows-only check (pairs are hash-family-specific, §5.5).
    *
    * State is LOG-STRUCTURED (the q95 merge-on-read protocol via
    * [[graft.tools.LogState]], with a plain-union fold since both tables
    * are append-only): each epoch writes only the batch's band rows and
    * survivors — O(batch), flat in index size — compacting every
    * `compactEvery` epochs to bound reader fan-in. Probe cost stays ∝
    * batch × touched index slice. The exact verify reads the state's own
    * doc_id-range-partitioned shingle store (see
    * [[minhashStreamApplyBatch]]) — after ingest the corpus lake is never
    * scanned again, and the verify read prunes to the partitions holding
    * candidate ids. */
  def minhashStream(spark: SparkSession, dir: String,
                    jaccardThreshold: Double = 0.5,
                    maxBucket: Int = MinhashMaxBucket,
                    chunks: Int = 4,
                    // 2 so the GATE run (4 chunks) exercises compaction
                    // at batches 1 and 3 and GC at batches ≥ 2 — the
                    // maintenance path is driver-visible, not spec-only;
                    // schedule invariance is MorUpsertSpec/DedupSpec-pinned
                    compactEvery: Int = 2): DataFrame = {
    val base = graft.tools.StateCache.getOrBuild(
      "dedup_stream_minhash",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|$jaccardThreshold|$maxBucket|$chunks|$compactEvery") { b =>
      val base = b
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
      val statePath = s"$base/state"
      val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val span = maxId / chunks + 1
      val now = System.currentTimeMillis()
      val tStage = System.nanoTime()
      (0 until chunks).foreach { k =>
        val tmp = s"$base/tmp-$k"
        docs.filter(col("doc_id") >= k * span && col("doc_id") < (k + 1) * span)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmp"))
        val dest = new java.io.File(s"$base/in/chunk-$k.parquet")
        dest.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dest.toPath)
        // admission order = mtime order (ties broken by path): stamp
        // strictly increasing mtimes so chunk k is batch k. The survivor
        // rule ("no verified near-dup with a SMALLER id") depends on this
        // ordering, so a filesystem that rejects mtime changes must fail
        // loudly here, not silently reorder the batches.
        require(dest.setLastModified(now - (chunks - k) * 60000L),
          s"could not stamp mtime on $dest — chunk admission order would be undefined")
        graft.tools.TempDirs.deleteRecursively(tmp)
      }
      // chunk staging is harness scaffolding (a real deployment reads an
      // existing stream), recorded as a phase so it can't masquerade as
      // operator cost in the bench artifact — the q94 layout_write shape
      graft.tools.PhaseTiming.record("stage_chunks",
        (System.nanoTime() - tStage) / 1e9)
      val schema = docs.schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          minhashStreamApplyBatch(batch, batchId, statePath,
            jaccardThreshold, maxBucket, compactEvery, idSpan = maxId + 1)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    val survPaths =
      graft.tools.LogState.pathsAsOf(s"$base/state/survivors", Long.MaxValue)
    require(survPaths.nonEmpty, s"no survivor state under $base/state")
    LogState.read(spark, s"$base/state/survivors", survPaths)
      .stage()
      .orderBy(col("doc_id"))
  }

  /** Fuzzy entity resolution (record-linkage dedup): customer records in
    * the same (nation, market segment) block whose NAMES are within one
    * Levenshtein edit — typo-level variants of the same entity.
    *
    * Candidate generation is DELETION-NEIGHBORHOOD blocking (the FastSS
    * family, Bocek et al. 2007): each name emits itself plus every
    * single-character deletion as block keys; two names within edit
    * distance 1 ALWAYS share a key (equal → the name itself;
    * substitution at i → both drop position i; insert/delete → the
    * longer one's deletion equals the shorter). So the candidate join is
    * an equi-join on slim (block, key) rows — O(len) keys per record —
    * and NEVER enumerates a block's O(n²) pairs, which is what makes the
    * operator survive blocks of millions (the naive block self-join is
    * the classic record-linkage scale trap). The verify step is the
    * banded-DP native expression bounded_lev: O(k·len) per candidate,
    * and it agrees with full Levenshtein on every kept pair, so the
    * DuckDB oracle (plain levenshtein over block pairs) is unchanged.
    * (Document bodies get token-level near-dup via jaccard/minhash —
    * edit distance targets entity keys.) */
  def fuzzy(spark: SparkSession, dir: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1,
      "deletion-neighborhood blocking is exact for maxDist = 1")
    val keyed = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("c_custkey"), col("c_name"))
      .withColumn("bkey", explode(expr(
        """array_union(array(c_name),
          |  transform(sequence(1, length(c_name)),
          |    i -> concat(substring(c_name, 1, i - 1),
          |                substring(c_name, i + 1, length(c_name)))))""".stripMargin)))
    val a = keyed.select(col("c_nationkey"), col("c_mktsegment"), col("bkey"),
      col("c_custkey").as("a_key"), col("c_name").as("a_name"))
    val b = keyed.select(col("c_nationkey"), col("c_mktsegment"), col("bkey"),
      col("c_custkey").as("b_key"), col("c_name").as("b_name"))
    a.join(b, Seq("c_nationkey", "c_mktsegment", "bkey"))
      .filter(col("a_key") < col("b_key"))
      .select(col("a_key"), col("b_key"), col("a_name"), col("b_name"))
      .distinct() // a pair can share several deletion keys
      .withColumn("dist", graft.functions.BoundedLevenshtein
        .bounded_lev(col("a_name"), col("b_name"), maxDist))
      .filter(col("dist") <= maxDist)
      .select(col("a_key"), col("b_key"), col("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  val fuzzySql: String =
    """SELECT a.a_key, b.b_key,
      |  CAST(levenshtein(a.a_name, b.b_name) AS INT) AS dist
      |FROM (SELECT c_nationkey, c_mktsegment, c_custkey AS a_key,
      |             c_name AS a_name FROM customer) a
      |JOIN (SELECT c_nationkey, c_mktsegment, c_custkey AS b_key,
      |             c_name AS b_name FROM customer) b
      |  ON a.c_nationkey = b.c_nationkey
      | AND a.c_mktsegment = b.c_mktsegment AND a.a_key < b.b_key
      |WHERE levenshtein(a.a_name, b.b_name) <= 1
      |ORDER BY a_key, b_key""".stripMargin

  // ---------------------------------------------------------------------
  // Embedding-cosine near-dup (oracle-checkable; exact fold order)
  // ---------------------------------------------------------------------

  val Dim = 64

  /** Cosine similarity via the native codegen'd expression
    * (graft.functions.CosineSimilarity): left-fold in double, index order —
    * the exact IEEE754 operation sequence the generated oracle SQL
    * performs, so values are bit-identical. */
  private[ops] def cosine(aCol: String, bCol: String): Column =
    graft.functions.CosineSimilarity.cosine_sim(col(aCol), col(bCol))

  /** The same cosine as generated SQL (a left-assoc 64-term chain). */
  private[ops] def cosineSql(aRef: String, bRef: String): String = {
    def dot(x: String, y: String) = (1 to Dim).map { i =>
      s"CAST($x[$i] AS DOUBLE) * CAST($y[$i] AS DOUBLE)"
    }.mkString("(", " + ", ")")
    s"${dot(aRef, bRef)} / (sqrt(${dot(aRef, aRef)}) * sqrt(${dot(bRef, bRef)}))"
  }

  /** Embedding near-dup: cosine > threshold pairs within a label bucket.
    * Bucketing caps the pair blow-up exactly like LSH banding; at scale the
    * bucket key would be an IVF/LSH cell (see Similarity.scala). */
  def embeddingCosine(spark: SparkSession, dir: String,
                      threshold: Double = 0.35): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("label"), col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("label"), col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, Seq("label"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine("a_emb", "b_emb"))
      .filter(col("cos") > threshold)
      .select(col("label"), col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("label"), col("a_id"), col("b_id"))
  }

  val embeddingCosineSql: String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cos
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE $cos > 0.35
       |ORDER BY a.label, a_id, b_id""".stripMargin
  }

  /** Per-table LSH signature rows (vec_id, table, sig0) of (vec_id,
    * embedding) rows — the one signature definition of the
    * embedding-LSH family: the batch candidates, the incremental history
    * artifact and the stream's index rows are all this frame. */
  private def embLshSigs(e: DataFrame, tables: Int, bits: Int): DataFrame =
    (0 until tables).map { t =>
      e.select(col("vec_id"), lit(t).as("table"),
        graft.functions.LshSignature.lsh_sig(col("embedding"), t, bits).as("sig0"))
    }.reduce(_ unionByName _)

  /** Multi-probe rows (table, d_id, sig) of signature rows: every key
    * within Hamming ≤ `probes` of each row's sig0 (Lv et al. VLDB 2007).
    * Candidacy is the Hamming-ball relation probe(x) ∋ sig0(y) ⟺
    * Hamming(sig0(x), sig0(y)) ≤ probes ⟺ probe(y) ∋ sig0(x) —
    * symmetric, so probing ONE side of any split and answering with the
    * other side's exact signatures finds every pair across it. */
  private def embLshProbes(sigs: DataFrame, bits: Int, probes: Int): DataFrame =
    sigs.select(col("table"), col("vec_id").as("d_id"),
      explode(graft.functions.VectorKernels.probeSigsUdf(
        col("sig0"), lit(bits), lit(probes))).as("sig"))

  /** Signature rows as the answering side of a probe join: (table, sig,
    * a_id). Each pair is found when its LATER id probes. */
  private def embLshKeyed(sigs: DataFrame): DataFrame =
    sigs.select(col("table"), col("sig0").as("sig"), col("vec_id").as("a_id"))

  /** Slim candidate (a_id, b_id) pairs of a whole corpus — every pair
    * within Hamming ≤ `probes` in ANY table. The join is unhinted: here
    * the probing side is the corpus itself, which must never broadcast.
    * Exposed for the candidate-fraction spec (the sub-linearity claim is
    * asserted on the candidate count, not assumed). */
  private[graft] def embeddingLshCandidates(e: DataFrame, tables: Int,
                                            bits: Int, probes: Int): DataFrame = {
    val sigs = embLshSigs(e, tables, bits)
    embLshProbes(sigs, bits, probes)
      .join(embLshKeyed(sigs), Seq("table", "sig"))
      .filter(col("a_id") < col("d_id"))
      .select(col("a_id"), col("d_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  /** The delta candidate kernel of the incremental and stream forms:
    * slim, deduplicated (a_id, b_id) pairs of hist×delta ∪ delta×delta.
    * Only the delta probes, against ONE index: the history rows plus the
    * delta's own signature rows. History is pruned to the delta's probe
    * keys by a broadcast semi-join (it only removes rows that could
    * never join) and is never re-probed: a history row is the earlier
    * side (ids below the split, or earlier arrivals), so it pairs as the
    * a-side with every delta row that reaches it, and by the Hamming-ball
    * symmetry of [[embLshProbes]] a delta×delta pair is found when its
    * later id probes. The index BROADCASTS, so the exploded probe frame
    * streams through a map-side hash join and never shuffles: Catalyst's
    * explode-output estimate is the INPUT size, so left alone it would
    * broadcast the wrong (~1000×-larger at production widths) side
    * (measured: executor OOM unrolling it). DELIBERATELY LAZY: the probe frame is recomputed for
    * its two consumers, a narrow map off the delta signatures
    * (materializing it piled hundreds of MB into the block manager per
    * stream epoch: epochs grew 9→27 s over 16 batches at 100×). Stages
    * nothing — a caller that reads the pairs twice stages them, as for
    * [[deltaCandidatePairs]]. */
  private def embLshDeltaCandidates(histSigs: DataFrame, deltaSigs: DataFrame,
                                    bits: Int, probes: Int): DataFrame = {
    val dProbe = embLshProbes(deltaSigs, bits, probes)
    val probeKeys = dProbe.select(col("table"), col("sig").as("sig0")).distinct()
    val touchedHist = histSigs
      .join(broadcast(probeKeys), Seq("table", "sig0"), "left_semi")
    val index = embLshKeyed(touchedHist).withColumn("hist", lit(true))
      .unionByName(embLshKeyed(deltaSigs).withColumn("hist", lit(false)))
    dProbe.join(broadcast(index), Seq("table", "sig"))
      .filter(col("hist") || col("a_id") < col("d_id"))
      .select(col("a_id"), col("d_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  /** The exact cosine verify of slim candidate pairs: the a-side and
    * b-side (vec_id, embedding) rows rejoin only for the candidates (the
    * 64-float vectors never ride the candidate shuffle — minhash's slim
    * band discipline), keeping (a_id, b_id, cos) with cos > threshold. */
  private def embCosineVerify(pairs: DataFrame, aSide: DataFrame,
                              bSide: DataFrame, threshold: Double): DataFrame =
    pairs
      .join(aSide.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), Seq("a_id"))
      .join(bSide.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), Seq("b_id"))
      .withColumn("cos", cosine("a_emb", "b_emb"))
      .filter(col("cos") > threshold)
      .select(col("a_id"), col("b_id"), col("cos"))

  /** Embedding near-dup without any semantic bucket column: candidates
    * come from hyperplane-LSH signature collisions over `tables` tables
    * with multi-probe ([[embeddingLshCandidates]] — each doc hashes once
    * per table, and a pair within Hamming ≤ `probes` in ANY table is a
    * candidate, so recall rises steeply), verified by the exact cosine
    * ([[embCosineVerify]]) — the fully content-addressed variant that
    * works on any corpus.
    *
    * `bits` ≤ 0 → adaptive signature width from the corpus size
    * (Similarity.adaptiveLshBits): candidate pairs stay ≤ ~5% of all
    * pairs at ANY corpus size, which is what makes this the 100 TB plan.
    * The recall consequence: pairs at angle θ survive with prob
    * P[Binom(bits, θ/π) ≤ probes] per table — ≈1 for true near-dups
    * (cos ≳ 0.9) at any width, but pairs that are merely "somewhat
    * similar" are design-out of scope (use the exact label-bucketed
    * variant, or IVF cells as the bucket key, for low thresholds). */
  def embeddingLsh(spark: SparkSession, dir: String,
                   threshold: Double = 0.35, tables: Int = 4,
                   bits: Int = -1, probes: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val b = if (bits > 0) bits
            else Similarity.adaptiveLshBits(
              Similarity.corpusCount(spark, dir), tables, probes)
    embeddingLshOf(e, threshold, tables, b, probes)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** embeddingLsh over an injectable (vec_id, embedding) frame with a
    * resolved bit width — the incremental path's history builder. */
  private def embeddingLshOf(e: DataFrame, threshold: Double,
                             tables: Int, bits: Int,
                             probes: Int): DataFrame =
    embCosineVerify(embeddingLshCandidates(e, tables, bits, probes), e, e,
      threshold)

  /** Incremental EMBEDDING-LSH near-dup maintenance: history persists
    * its signature rows ([[embLshSigs]], one short int per table per
    * vector) and its verified pair set; a delta signs ONLY its own
    * vectors, and its new pairs are the delta candidate kernel
    * ([[embLshDeltaCandidates]] — hist×delta ∪ delta×delta, exact by the
    * Hamming-ball symmetry) through the same cosine verify. This tier
    * has no bucket cap, so there is no crossing semantics and
    * incremental == rebuild unconditionally. `bits` ≤ 0 derives the
    * adaptive width from the FULL corpus count (what a rebuild would
    * use — equality requires it). */
  def embeddingLshIncremental(spark: SparkSession, dir: String,
                              splitId: Long, threshold: Double = 0.35,
                              tables: Int = 4, bits: Int = -1,
                              probes: Int = 2,
                              deltaOnly: Boolean = false): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val b = if (bits > 0) bits
            else Similarity.adaptiveLshBits(
              Similarity.corpusCount(spark, dir), tables, probes)
    val hist = e.filter(col("vec_id") < splitId)
    val delta = e.filter(col("vec_id") >= splitId)
    val histSigs = graft.tools.ArtifactCache.parquet(spark, dir,
      s"emb_lsh_sigs_lt${splitId}_t${tables}_b${b}_p$probes") { p =>
      embLshSigs(hist, tables, b).write.mode("overwrite").parquet(p)
    }
    val deltaPairs = embCosineVerify(embLshDeltaCandidates(histSigs,
      embLshSigs(delta, tables, b), b, probes), e, e, threshold)
    if (deltaOnly) deltaPairs
    else {
      val histPairs = graft.tools.ArtifactCache.parquet(spark, dir,
        s"emb_lsh_pairs_lt${splitId}_t${tables}_b${b}_p${probes}_th$threshold") { p =>
        embeddingLshOf(hist, threshold, tables, b, probes)
          .write.mode("overwrite").parquet(p)
      }
      histPairs.unionByName(deltaPairs).orderBy(col("a_id"), col("b_id"))
    }
  }

  /** [[embeddingLshIncremental]] through the HASH GATE on the clustered
    * embedding corpus (splitId 150 puts a quarter of every direction
    * cluster in the delta): the maintained index must reproduce the
    * exact brute-force pair set the oracle computes over the
    * SQL-synthesized corpus — same oracle as the batch `_clustered`
    * gate. */
  def embeddingLshIncrClustered(spark: SparkSession, dir: String): DataFrame =
    embeddingLshIncremental(spark, Similarity.clusteredCorpusDir(spark),
      splitId = 150, threshold = 0.5, tables = 4, bits = 10, probes = 2)

  /** The LSH-bucketed embedding near-dup in its EXACT regime, hash-gated
    * (same move as the sim_topk_*_clustered tier gates): on the
    * deterministic clustered corpus, every true pair (same-direction
    * cluster, cosine ≈ 0.99) survives the 10-bit 4-table radius-2
    * banding, so the output equals the brute-force pair enumeration the
    * DuckDB oracle computes over the SQL-synthesized corpus. A banding
    * bug that drops a true pair (signature kernel, probe explode, union
    * dedup, rejoin) breaks the hash — the fixture-corpus entry stays
    * rows-only by the §5.5 contract because there recall is genuinely
    * partial. `dir` ignored by design (corpus is a pure function of the
    * index). */
  def embeddingLshClustered(spark: SparkSession, dir: String): DataFrame =
    embeddingLsh(spark, Similarity.clusteredCorpusDir(spark),
      threshold = 0.5, tables = 4, bits = 10, probes = 2)

  val embeddingLshClusteredSql: String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""WITH emb AS (
       |  ${Similarity.clusteredEmbSql})
       |SELECT a.vec_id AS a_id, b.vec_id AS b_id, $cos AS cos
       |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
       |WHERE $cos > 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SemDeDup-style semantic dedup (cluster-then-prune)
  // ---------------------------------------------------------------------

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, enumerate
    * cosine pairs WITHIN each cluster only, and drop every vector that
    * has an earlier (lower vec_id) cluster-mate with cosine ≥ eps — the
    * cluster-bounded alternative to [[embeddingLsh]]'s banding when a
    * trained coarse quantizer already exists (it is the IVF cell reused
    * as the dedup block). Representative choice is keep-first-by-id, a
    * deterministic deviation from the paper's lowest-centroid-similarity
    * pick (documented; the paper itself notes the choice barely moves
    * downstream accuracy). Dropping is by pair-anti-join, not sequential
    * greedy — identical whenever ≥ eps is transitive on the corpus (it
    * is in the exact regime the gate runs: eps separates identical from
    * merely-near vectors).
    *
    * Scale shape: the only corpus-sized shuffles are the k-means
    * assignment (narrow map, broadcast centroids) and one exchange on
    * cluster_id; pair enumeration is O(Σ cluster²) — bounded by sizing k
    * to the corpus (clusters of ~10⁴ at any n, the paper's own setting),
    * with [[embeddingLsh]] as the banded escape for corpora where one
    * semantic cluster is degenerate-hot. Survivors come from a left-anti
    * join — no global sort until the final ORDER BY of the bounded
    * survivor frame. */
  def semanticDedup(spark: SparkSession, corpus: DataFrame, k: Int,
                    iterations: Int, eps: Double,
                    indexDir: Option[String] = None): DataFrame = {
    // Train-once / dedup-many (the ivfIndex precedent, and this
    // operator's own framing: the cluster block IS "the IVF cell reused
    // as the dedup block" — a quantizer that already exists). With
    // `indexDir` set, the trained centroids persist per (corpus dir, k,
    // iterations) through ArtifactCache — training is hash-deterministic,
    // so a cached index equals a retrained one — and iterations after
    // the first pay assignment + pair enumeration, not the ~8 sequential
    // driver jobs of a k-means‖ fit. Probe callers that hand a frame
    // with no directory identity keep the inline fit. The cached index
    // trains on `embeddings(d)` itself, not on `corpus`, so it is by
    // construction the index its key names.
    val quantizer = indexDir match {
      case Some(d) =>
        KMeans.frozen(spark, d, s"semdedup_c${k}_i$iterations") {
          KMeans.fit(spark, Tables.embeddings(spark, d), k, iterations)
        }
      case None => KMeans.Quantizer.of(KMeans.fit(spark, corpus, k, iterations))
    }
    val vecs = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // localCheckpoint: the assignment map is consumed THREE times (skew
    // aggregate + both sides of the pair join) — without it the eager
    // skew .head would force a full extra k-means assignment pass per
    // call, inflating the very probe timing the metric exists to explain.
    val assigned = KMeans.assign(vecs, quantizer)
      .select(col("vec_id"), col("v"), col("cluster_id"))
      .stage()
    // Cluster-size SKEW, recorded per call (drained into bench routing /
    // probe prints): the pair surface is Σ cluster² — the max cluster is
    // the term that says whether k was sized right for the corpus, and a
    // degenerate-hot cluster is this operator's one scale hazard (the
    // banded embeddingLsh is the documented escape). One O(k)-row
    // aggregate over the checkpointed assignment map. The three gauges
    // are recorded as ONE coherent group keyed on the worst max/mean
    // skew (basis points): independent per-gauge maxes across two calls
    // with different k would pair one call's max with another's cluster
    // count and fabricate a skew neither call had.
    val cs = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), count(lit(1)).as("nc"),
        sum(col("c")).as("tot")).head
    val (mx, nc, tot) = (cs.getLong(0), cs.getLong(1), cs.getLong(2))
    graft.tools.RoutingMetrics.recordWorstGroup(
      "sem_skew_bp", mx * nc * 10000L / math.max(tot, 1L),
      "sem_cluster_max" -> mx, "sem_clusters" -> nc)
    val a = assigned.select(col("cluster_id"), col("vec_id").as("a_id"),
      col("v").as("a_v"))
    val b = assigned.select(col("cluster_id"), col("vec_id").as("b_id"),
      col("v").as("b_v"))
    val dups = a.join(b, Seq("cluster_id"))
      .filter(col("b_id") < col("a_id"))
      .filter(graft.functions.CosineSimilarity
        .cosine_sim(col("a_v"), col("b_v")) >= eps)
      .select(col("a_id")).distinct()
    assigned
      .join(dups, assigned("vec_id") === dups("a_id"), "left_anti")
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Fixture-corpus form (rows-only by §5.5: k-means labels on isotropic
    * data are not oracle-expressible): embeddings table, k=8, eps=0.85 —
    * on isotropic random vectors nothing clears 0.85, so this arm mostly
    * witnesses that the operator runs end-to-end and drops nothing it
    * should not. */
  def semanticDedupFixture(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(spark, Tables.embeddings(spark, dir), k = 8,
      iterations = 2, eps = 0.85, indexDir = Some(dir))

  /** [[semanticDedup]] through the HASH GATE in the deterministic
    * regime: on the clustered corpus, k=10/iterations=2 k-means
    * provably converges to the 10 planted directions (the
    * `kmeans_clustered_gate` claim), and eps = 0.99999 sits between
    * cosine 1.0 (the planted identical triples — vec_id ≡ mod 70, since
    * i%5 is implied by i%10 the identity classes are mod lcm(10,7)=70)
    * and the largest non-identical same-direction cosine (≈ 0.999972,
    * an exact double both engines compute with the same IEEE chain). So
    * the survivor set is exactly {0..69} ∪ {unique ids} — computed by
    * the oracle as a NOT-EXISTS over the %10 blocks — and a bug in the
    * quantizer assignment, the pair enumeration, or the anti-join
    * breaks the hash. `dir` ignored by design. */
  def semanticDedupClustered(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(spark, Tables.embeddings(spark,
      Similarity.clusteredCorpusDir(spark)), k = 10, iterations = 2,
      eps = 0.99999, indexDir = Some(Similarity.clusteredCorpusDir(spark)))

  val semanticDedupClusteredSql: String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""WITH emb AS (
       |  ${Similarity.clusteredEmbSql})
       |SELECT a.vec_id FROM emb a
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM emb b
       |  WHERE b.vec_id < a.vec_id
       |    AND b.vec_id % 10 = a.vec_id % 10
       |    AND $cos >= 0.99999)
       |ORDER BY a.vec_id""".stripMargin
  }

  /** Delta-side duplicate ids under the keep-first-by-id rule: `delta`
    * vectors that have a SAME-CLUSTER mate with a smaller vec_id at
    * cosine ≥ eps, where `mates` is every vector that may answer
    * (history ∪ delta, each as (cluster_id, vec_id, v)). One equi-join
    * on cluster_id, no all-pairs surface — the shared pair kernel of the
    * incremental and streaming semantic forms. */
  private def semanticDupIds(mates: DataFrame, delta: DataFrame,
                             eps: Double): DataFrame =
    mates.select(col("cluster_id"), col("vec_id").as("a_id"),
        col("v").as("a_v"))
      .join(delta.select(col("cluster_id"), col("vec_id").as("b_id"),
        col("v").as("b_v")), Seq("cluster_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(graft.functions.CosineSimilarity
        .cosine_sim(col("a_v"), col("b_v")) >= eps)
      .select(col("b_id").as("vec_id")).distinct()

  /** Incremental SemDeDup maintenance — the cluster-then-prune tier
    * under the same ingest contract as the other incremental near-dup
    * forms: the QUANTIZER IS TRAINED ONCE on history and frozen (the
    * paper's own deployment shape — re-clustering the corpus per ingest
    * would dwarf the ingest cost), history persists its slim assignment
    * (vec_id, cluster_id) and its survivor set as artifacts, and a
    * delta pays nearest-centroid assignment (broadcast centroids,
    * narrow map) plus pair enumeration against SAME-CLUSTER mates only.
    * Keep-first-by-id is PREFIX-CLOSED — survival depends only on
    * earlier ids — so history survivors are immutable under append and
    * the delta's earlier-mate set is exactly (history assignment ∪
    * delta mates with smaller id). Incremental == full rebuild whenever
    * the frozen quantizer induces the same partition a retrain would —
    * exact by construction in the deterministic regime the gate runs
    * (every planted direction is represented in history); at fixture
    * scale it carries the usual approximate-family caveat, which is why
    * the hash gate is the clustered arm. */
  def semanticDedupIncremental(spark: SparkSession, dir: String,
                               k: Int, iterations: Int, eps: Double,
                               splitId: Long): DataFrame = {
    val all = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val tag = s"lt${splitId}_k${k}_i$iterations"
    val quantizer = KMeans.frozen(spark, dir, s"semdedup_centroids_$tag") {
      KMeans.fit(spark,
        Tables.embeddings(spark, dir).filter(col("vec_id") < splitId),
        k, iterations)
    }
    // slim history artifacts: assignment carries NO vector payload (the
    // corpus table re-supplies v by equi-join — the store stays
    // O(16 B/row) however wide the embeddings are)
    val histAssigned = graft.tools.ArtifactCache.parquet(spark, dir,
      s"semdedup_assign_$tag") { p =>
      KMeans.assign(all.filter(col("vec_id") < splitId), quantizer)
        .select(col("vec_id"), col("cluster_id"))
        .write.mode("overwrite").parquet(p)
    }
    val histMates = histAssigned.join(all, Seq("vec_id"))
      .select(col("cluster_id"), col("vec_id"), col("v"))
    val histSurv = graft.tools.ArtifactCache.parquet(spark, dir,
      s"semdedup_surv_$tag") { p =>
      histMates.select(col("vec_id"))
        .join(semanticDupIds(histMates, histMates, eps),
          Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(p)
    }
    val deltaAssigned = KMeans.assign(
      all.filter(col("vec_id") >= splitId), quantizer)
      .select(col("cluster_id"), col("vec_id"), col("v"))
      .stage()
    val deltaDups = semanticDupIds(
      histMates.unionByName(deltaAssigned), deltaAssigned, eps)
    histSurv.select(col("vec_id"))
      .unionByName(deltaAssigned.select(col("vec_id"))
        .join(deltaDups, Seq("vec_id"), "left_anti"))
      .orderBy(col("vec_id"))
  }

  /** [[semanticDedupIncremental]] through the HASH GATE: splitId 150
    * puts a quarter of every planted direction in the delta; the frozen
    * history-trained quantizer still assigns every vector to its
    * planted direction (separation argument as the batch gate), so the
    * maintained survivor set must equal the full-rebuild answer — the
    * SAME oracle as `dedup_semantic_clustered` (q38/q34 precedent). A
    * bug in the frozen-assignment path, the artifact reuse, or the
    * prefix-closure reasoning breaks the hash. */
  def semanticDedupIncrClustered(spark: SparkSession, dir: String): DataFrame =
    semanticDedupIncremental(spark, Similarity.clusteredCorpusDir(spark),
      k = 10, iterations = 2, eps = 0.99999, splitId = 150)

  /** Mean-shift threshold (µ-units of the q = floor(x·10⁶) scale) above
    * which a dimension counts as drifted — shared between the refresh
    * protocol's default and both refresh oracles (the q103 pattern). */
  val DriftThresholdMicro: Long = 100000L

  /** DRIFT-TRIGGERED QUANTIZER REFRESH (VERDICT r16 #4) — the protocol
    * connecting the drift monitor ([[Similarity.embStatsRaw]] /
    * [[Similarity.embDriftDims]]) to the frozen quantizer the
    * incremental semantic tier deploys with ([[semanticDedupIncremental]]
    * trains once on history and freezes — correct exactly as long as the
    * delta's distribution is the history's):
    *
    *  1. score the delta against history — two per-dim stats reports,
    *     integer-exact cross-multiplied mean-shift (no division);
    *  2. NO drifted dim → the FROZEN path, byte-for-byte
    *     [[semanticDedupIncremental]] (same ArtifactCache tags, so the
    *     history artifacts are reused untouched — the no-drift arm's
    *     gate proves the protocol adds nothing to the frozen tier);
    *  3. any drifted dim → RETRAIN-AND-REASSIGN: new quantizer trained
    *     on history ∪ delta (`kRefresh` cells — sized for the shifted
    *     distribution), EVERY vector reassigned under the new partition,
    *     survivors recomputed by the same pair kernel
    *     ([[semanticDupIds]]). Keep-first-by-id is a pure function of
    *     the pair set, so the refresh answer must equal a from-scratch
    *     batch rebuild — which is exactly what the gate's oracle
    *     synthesizes.
    *
    * The decision read is one O(dims) collect (bounded by construction).
    * At 100 TB the refresh branch costs one retrain + one reassignment
    * pass — the price of correctness once the monitor says the frozen
    * partition no longer matches the data; the frozen branch stays
    * delta-priced. */
  def semanticDedupRefresh(spark: SparkSession, dir: String,
                           k: Int, kRefresh: Int, iterations: Int,
                           eps: Double, splitId: Long,
                           thresholdMicro: Long = DriftThresholdMicro): DataFrame = {
    val embs = Tables.embeddings(spark, dir)
    val drifted = Similarity.embDriftDims(
        Similarity.embStatsOf(embs.filter(col("vec_id") < splitId)),
        Similarity.embStatsOf(embs.filter(col("vec_id") >= splitId)),
        thresholdMicro)
      .limit(1).collect().nonEmpty
    if (drifted) {
      val all = embs.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      val centroids = KMeans.fit(spark, embs, kRefresh, iterations)
      val assigned = KMeans.assign(all, centroids)
        .select(col("cluster_id"), col("vec_id"), col("v"))
        .stage()
      assigned.select(col("vec_id"))
        .join(semanticDupIds(assigned, assigned, eps),
          Seq("vec_id"), "left_anti")
        .withColumn("branch", lit("refresh"))
        .orderBy(col("vec_id"))
    } else {
      semanticDedupIncremental(spark, dir, k, iterations, eps, splitId)
        .withColumn("branch", lit("frozen"))
        .orderBy(col("vec_id"))
    }
  }

  /** [[semanticDedupRefresh]] through the HASH GATE on the DRIFTED
    * corpus ([[Similarity.writeDriftedCorpus]] — the delta's two new
    * directions shift dims 60/61 by 0.5 in the mean, far past the
    * threshold, so the retrain branch is FORCED): the oracle replays
    * the same integer drift recurrence in SQL (a scoring bug that fails
    * to trigger flips the `branch` column and breaks the hash) and
    * synthesizes the from-scratch survivor set — identical replicas
    * co-cluster under ANY quantizer and eps separates identity from
    * jitter, so refresh == rebuild bitwise. `dir` unused (regime). */
  def semanticRefreshClustered(spark: SparkSession, dir: String): DataFrame =
    semanticDedupRefresh(spark, Similarity.driftedCorpusDir(spark),
      k = 10, kRefresh = 12, iterations = 2, eps = 0.99999, splitId = 200)

  /** The NO-DRIFT arm: the standard clustered corpus split at 150 (the
    * [[semanticDedupIncrClustered]] regime — the delta is a quarter of
    * every planted direction, means shift by at most a few hundred µ on
    * the jitter dim, far below threshold). The protocol must take the
    * FROZEN branch and reproduce the incremental tier's answer through
    * its own cached artifacts — proving the decision layer leaves the
    * frozen path untouched when the monitor is quiet. */
  def semanticRefreshNoDriftClustered(spark: SparkSession, dir: String): DataFrame =
    semanticDedupRefresh(spark, Similarity.clusteredCorpusDir(spark),
      k = 10, kRefresh = 12, iterations = 2, eps = 0.99999, splitId = 150)

  /** Oracle scaffold shared by both refresh arms: the integer drift
    * recurrence over the synthesized corpus (split at `splitId`) decides
    * `branch`; survivors = keep-first NOT-EXISTS within direction blocks
    * (history: % 10 over dims 0..59; delta: % 2 over the new
    * directions — cross-block cosines never reach eps by construction,
    * the same separation argument every semantic gate documents). */
  private def refreshOracleSql(embSql: String, splitId: Long,
                               blockPred: String): String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    s"""WITH emb AS (
       |  $embSql),
       |qv AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
       |  FROM (
       |    SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
       |           unnest(embedding) AS x
       |    FROM emb)),
       |h AS (SELECT dim, COUNT(*) AS n_h, SUM(q) AS s_h FROM qv
       |      WHERE vec_id < $splitId GROUP BY dim),
       |d AS (SELECT dim, COUNT(*) AS n_d, SUM(q) AS s_d FROM qv
       |      WHERE vec_id >= $splitId GROUP BY dim),
       |drift AS (
       |  SELECT CASE WHEN EXISTS (
       |      SELECT 1 FROM h JOIN d USING (dim)
       |      WHERE abs(s_d * n_h - s_h * n_d)
       |            > $DriftThresholdMicro * n_h * n_d)
       |    THEN 'refresh' ELSE 'frozen' END AS branch)
       |SELECT a.vec_id, drift.branch FROM emb a, drift
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM emb b
       |  WHERE b.vec_id < a.vec_id
       |    AND ($blockPred)
       |    AND $cos >= 0.99999)
       |ORDER BY vec_id""".stripMargin
  }

  val semanticRefreshClusteredSql: String =
    refreshOracleSql(Similarity.driftedEmbSql, 200L,
      """(a.vec_id < 200 AND b.vec_id < 200
        |         AND b.vec_id % 10 = a.vec_id % 10)
        |      OR (a.vec_id >= 200 AND b.vec_id >= 200
        |         AND b.vec_id % 2 = a.vec_id % 2)""".stripMargin)

  val semanticRefreshNoDriftClusteredSql: String =
    refreshOracleSql(Similarity.clusteredEmbSql, 150L,
      "b.vec_id % 10 = a.vec_id % 10")

  /** One micro-batch of STREAMING SemDeDup — the semantic tier joins
    * the other four streaming dedup forms on the same state contract:
    * epoch-keyed overwrite writes (at-least-once replay rewrites
    * identical state), `requireNoFuture` guards, compaction via the
    * shared log maintenance. The quantizer trains ONCE on the first
    * batch and freezes (deterministic trainer ⇒ replay-idempotent);
    * members live in a RangeState store PARTITIONED BY cluster_id with
    * the vector riding the member row — exactly one row per vector
    * (unlike the LSH tiers there is no ×tables fan-out, so
    * payload-on-state-rows is the compact layout here), and each batch
    * reads only the partitions holding clusters it touches. Publish
    * happens BEFORE the pair verify so the store as-of batchId answers
    * both the history×delta and delta×delta terms in one pruned read.
    * Keep-first-by-id prefix-closure makes earlier epochs' survivor
    * logs immutable — the streamed union equals the batch answer. */
  private[graft] def semanticStreamApplyBatch(batch: DataFrame,
      batchId: Long, statePath: String, k: Int, iterations: Int,
      eps: Double, compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val memberRoot = s"$statePath/members"
    val survRoot = s"$statePath/survivors"
    graft.tools.LogState.requireNoFuture(survRoot, batchId)
    graft.tools.RangeState.requireNoFuture(memberRoot, batchId)
    val t0 = System.nanoTime()
    val arriving = batch.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .stage()
    val cpath = s"$statePath/centroids"
    if (batchId == 0L)
      KMeans.saveIndex(KMeans.fit(sp,
        arriving.select(col("vec_id"), col("v").as("embedding")),
        k, iterations), cpath)
    val centroids = KMeans.loadIndex(sp, cpath)
    val assigned = KMeans.assign(arriving, centroids)
      .select(col("cluster_id"), col("vec_id"), col("v"))
      .stage()
    val bounds = graft.tools.RangeState.freezeUniform(memberRoot,
      k.toLong, math.min(k, 16))
    val touched = graft.tools.RangeState.publishDelta(memberRoot, batchId,
      assigned, graft.tools.RangeState.bucketCol(bounds, col("cluster_id")))
    graft.tools.RoutingMetrics.add("sem_publish_parts", touched.size.toLong)
    val (members, bucketsRead) = graft.tools.RangeState.readForKeys(sp,
      memberRoot, bounds, assigned, "cluster_id", batchId)(assigned.limit(0))
    graft.tools.RoutingMetrics.add("sem_buckets_read", bucketsRead.toLong)
    graft.tools.RoutingMetrics.add("sem_buckets_total",
      graft.tools.RangeState.partDirs(memberRoot).size.toLong)
    val mates = members.select(col("cluster_id"), col("vec_id"), col("v"))
    val dups = semanticDupIds(mates, assigned, eps)
    arriving.select(col("vec_id"))
      .join(dups, Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$survRoot/delta/v$batchId")
    graft.tools.PhaseTiming.record(f"semepoch$batchId%03d",
      (System.nanoTime() - t0) / 1e9)
    graft.tools.LogState.maintain(sp, Seq(survRoot), batchId,
      compactEvery)(identity)
    graft.tools.RangeState.maintainTouched(sp, touched, batchId,
      compactEvery)(identity)
  }

  /** Streaming SemDeDup through the HASH GATE: 4 id-range batches of
    * the clustered corpus; the batch-0-trained quantizer (ids 0..49
    * cover all 10 planted directions, 5 per direction) assigns every
    * later vector to its planted direction, so the streamed survivor
    * union must equal the batch answer — the SAME oracle as
    * `dedup_semantic_clustered`. */
  def semanticStreamClustered(spark: SparkSession, dir: String,
                              epochs: Int = 4): DataFrame = {
    val cdir = Similarity.clusteredCorpusDir(spark)
    val base = StateCache.replay("dedup_stream_semantic_clustered",
        Some(cdir), epochs, StateCache.Range("vec_id"), None)(
        Tables.embeddings(spark, cdir).select(col("vec_id"), col("embedding"))) {
      (b, e, st) => semanticStreamApplyBatch(b, e, st, k = 10,
        iterations = 2, eps = 0.99999, compactEvery = 2)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L).stage()
      .orderBy(col("vec_id"))
  }

  /** Signature width for the STREAMING embedding tier, from EXPECTED
    * FINAL corpus size N (the caller's `idSpan` when known, else
    * 2·(first batch's max id + 1) — the same seed the vector store's
    * range bounds use).
    *
    * Why not `Similarity.adaptiveLshBits(N)` alone: that sizes for a
    * bounded candidate FRACTION (tables·probeCount/2^bits ≤ 3%), the
    * right knob when one query probes one corpus once. A stream pays
    * the hist×delta COLLISION TERM every epoch — expected candidates
    * per arriving vector
    *
    *   E[cand/row] = |hist| · tables · probeCount(bits, probes) / 2^bits
    *
    * and |hist| grows toward N, so a fraction-sized width admits
    * per-epoch cost that GROWS with the index (measured at 100× =
    * 200 k vectors, BASELINE.md: adaptive 19–21 bits → epochs
    * 7.5 → 21.9 s; bits = 24 → flat 5.1–7.9 s, identical survivors).
    * Widening costs no recall for the near-exact dups this tier
    * targets (per-bit flip prob θ/π → 0 as θ → 0, at any width), so we
    * size for a CONSTANT per-row collision budget:
    * 2^bits ≥ N·tables·probeCount/C with C = 16 — N = 200 k ⟹ 24 bits,
    * exactly the probe-validated flat setting (pinned in DedupSpec). */
  private[graft] def streamLshBits(expectedN: Long, tables: Int = 4,
                                   probes: Int = 2,
                                   candidatesPerRow: Double = 16.0): Int = {
    // the signature is a 32-bit int — cap the occupancy-derived start
    // (adaptiveLshBits's log2(n)+2 is uncapped for astronomical n)
    var b = math.min(32, Similarity.adaptiveLshBits(expectedN, tables, probes))
    while (b < 32 && expectedN.toDouble * tables *
      Similarity.probeCount(b, probes) / math.pow(2.0, b) > candidatesPerRow)
      b += 1
    b
  }

  /** Signature width FROZEN in the state dir on first use: historical
    * signatures were computed at that width, and a resumed or replayed
    * stream must keep matching them bit-for-bit (the RangeState
    * boundary-freeze discipline). The freeze is UNCONDITIONAL — an
    * explicitly-passed width is recorded too, so a later batch that
    * falls back to the derived default (or passes a different explicit
    * width) FAILS FAST instead of probing history at the wrong width
    * and silently missing duplicates. Two hard errors:
    *  - state exists but `_lsh_bits` doesn't (state built by a pre-
    *    freeze build, or the file was lost) — refusing beats guessing;
    *  - `_lsh_bits` conflicts with an explicit `requested` width.
    * `requested` ≤ 0 means derive from `expectedN` via
    * [[streamLshBits]]; by-name so the seeding job runs only when the
    * file doesn't exist yet. */
  private def frozenStreamBits(statePath: String, requested: Int,
                               expectedN: => Long,
                               tables: Int, probes: Int,
                               stateExists: => Boolean): Int = {
    val f = java.nio.file.Paths.get(statePath, "_lsh_bits")
    if (!java.nio.file.Files.exists(f)) {
      if (stateExists) throw new IllegalStateException(
        s"embedding-LSH stream state at $statePath has historical " +
          "signatures but no _lsh_bits width record: its signatures were " +
          "built at an unknown width and cannot be probed safely. " +
          "Rebuild the stream state (or restore _lsh_bits).")
      java.nio.file.Files.createDirectories(f.getParent)
      val tmp = java.nio.file.Paths.get(statePath, "_lsh_bits.tmp")
      val w = if (requested > 0) requested
              else streamLshBits(expectedN, tables, probes)
      java.nio.file.Files.write(tmp,
        w.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val frozen = new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8).trim.toInt
    if (requested > 0 && requested != frozen)
      throw new IllegalStateException(
        s"embedding-LSH stream width conflict at $statePath: state is " +
          s"frozen at $frozen bits but this batch requested $requested. " +
          "Historical signatures only match at their build width.")
    frozen
  }

  /** One micro-batch of STREAMING embedding-LSH dedup on the family's
    * shared steps: the batch's signature rows ([[embLshSigs]]) are the
    * index delta, the delta candidate kernel ([[embLshDeltaCandidates]])
    * pairs them against the index (delta-side-only multi-probe —
    * history is never re-probed), and the cosine verify
    * ([[embCosineVerify]]) takes the pruned vector-store read as the
    * a-side and the arrivals as the b-side.
    *
    * State layout is the MINHASH-STREAM architecture, not the simhash
    * one: a SLIM signature index ((vec_id, table, sig0) LogState rows —
    * ~16 B each, so the per-epoch touched-key semi-join scans stay
    * cheap at any index size) plus a vec_id-range-partitioned VECTOR
    * STORE ([[graft.tools.RangeState]]) read pruned to the candidate
    * a-ids' buckets. A 256-byte vector riding every signature row (the
    * simhash fp-on-band-rows move) measured per-epoch cost GROWING
    * 6→16 s over 16 epochs at 100×: the index scan hauled ~1 KB/row of
    * payload the prune then threw away. No bucket cap: this tier has
    * none (matching batch/incremental), so there is no crossing
    * semantics and the streamed survivor set equals the batch rule
    * whenever arrival order is id order. A vector is a duplicate iff it
    * is the LATER side of a verified pair; writes are epoch-keyed
    * overwrites derived from state < batchId — replay-idempotent.
    *
    * `bits` ≤ 0 (the default) derives the signature width from EXPECTED
    * corpus size via [[streamLshBits]] and freezes it in the state dir —
    * see that method for the collision-term math (r13 probe: adaptive
    * per-fraction widths made epochs GROW; the expected-N width is
    * flat). */
  private[graft] def embeddingStreamApplyBatch(batch: DataFrame,
                                               batchId: Long, statePath: String,
                                               threshold: Double = 0.35,
                                               tables: Int = 4, bits: Int = -1,
                                               probes: Int = 2,
                                               compactEvery: Int = 4,
                                               vecPartitions: Int = 16,
                                               idSpan: Long = -1): Unit = {
    val sp = batch.sparkSession
    val indexRoot = s"$statePath/index"
    val survRoot = s"$statePath/survivors"
    val vecRoot = s"$statePath/vectors"
    Seq(indexRoot, survRoot)
      .foreach(graft.tools.LogState.requireNoFuture(_, batchId))
    graft.tools.RangeState.requireNoFuture(vecRoot, batchId)
    val t0 = System.nanoTime()
    val arriving = batch.select(col("vec_id"), col("embedding"))
      .stage()
    // the vector store's range boundaries: the id span when the caller
    // knows it, else seeded from the first batch (id-ordered arrival
    // parks later ids in the top partition — a pruning-balance cost,
    // never correctness). The same span seeds the frozen signature
    // width; lazy so the max() job runs at most once, and only when
    // neither frozen artifact exists yet (batch 0 of a fresh stream).
    lazy val seedSpan: Long =
      if (idSpan > 0) idSpan
      else 2 * (arriving.agg(max(col("vec_id"))).head.getLong(0) + 1)
    val bounds = graft.tools.RangeState.freezeUniform(vecRoot, seedSpan,
      vecPartitions)
    val bw = frozenStreamBits(statePath, bits, seedSpan, tables, probes,
      stateExists = graft.tools.LogState
        .pathsAsOf(indexRoot, Long.MaxValue).nonEmpty)
    // publish the batch's vectors BEFORE the verify so the store as-of
    // batchId covers both candidate sides; overwrite keyed by batchId —
    // the shared replay contract
    val touchedVec = graft.tools.RangeState.publishDelta(vecRoot, batchId,
      arriving,
      graft.tools.RangeState.bucketCol(bounds, col("vec_id")))
    graft.tools.RoutingMetrics.add("emb_publish_parts",
      touchedVec.size.toLong)
    val newRows = embLshSigs(arriving, tables, bw).stage()
    val histPaths = graft.tools.LogState.pathsAsOf(indexRoot, batchId - 1)
    val hist =
      if (histPaths.nonEmpty) LogState.read(sp, indexRoot, histPaths)
      else newRows.limit(0)
    // the index rows are the earlier arrivals, the kernel's history
    // side. Staged: read for the a-ids and by the verify
    val cands = embLshDeltaCandidates(hist, newRows, bw, probes).stage()
    // a-side vectors from the store, PRUNED to the partitions holding
    // candidate a-ids (the minhash shingle-store move)
    val candIds = cands.select(col("a_id").as("vec_id")).distinct()
    val (store, bucketsRead) = graft.tools.RangeState.readForKeys(sp,
      vecRoot, bounds, candIds, "vec_id", batchId)(arriving.limit(0))
    graft.tools.RoutingMetrics.add("emb_buckets_read", bucketsRead.toLong)
    graft.tools.RoutingMetrics.add("emb_buckets_total",
      graft.tools.RangeState.partDirs(vecRoot).size.toLong)
    graft.tools.RoutingMetrics.add(f"emb_read_b$batchId%03d",
      bucketsRead.toLong)
    val dupIds = embCosineVerify(cands,
        store.join(candIds, Seq("vec_id"), "left_semi"), arriving, threshold)
      .select(col("b_id").as("vec_id")).distinct()
    val batchSurvivors = arriving.select(col("vec_id"))
      .join(dupIds, Seq("vec_id"), "left_anti")
    newRows.write.mode("overwrite").parquet(s"$indexRoot/delta/v$batchId")
    batchSurvivors.write.mode("overwrite")
      .parquet(s"$survRoot/delta/v$batchId")
    // per-batch cost vs index growth is the operator's scaling curve —
    // recorded per micro-batch for the probes (name disjoint from the
    // minhash stream's epochNNN so co-resident runs don't collide)
    graft.tools.PhaseTiming.record(f"embepoch$batchId%03d",
      (System.nanoTime() - t0) / 1e9)
    graft.tools.LogState.maintain(sp, Seq(indexRoot, survRoot), batchId,
      compactEvery)(identity)
    graft.tools.RangeState.maintainTouched(sp, touchedVec, batchId,
      compactEvery)(identity)
  }

  /** STREAMING embedding-LSH through the HASH GATE on the clustered
    * corpus: four contiguous id-range batches (arrival order = id
    * order) over the 200-vector deterministic corpus, at the same
    * (threshold 0.5, 4 tables, 10 bits, radius 2) parameters as the
    * batch `_clustered` gate — the regime where every true pair
    * survives the banding (recall 1.0 by construction), so the final
    * survivor set is exactly the batch rule "keep v iff no earlier u
    * with cosine > 0.5", which the oracle computes by brute force over
    * the SQL-synthesized corpus (NOT EXISTS over the exact cosine
    * chain). A probe-key prune that misses a touched slice, a broken
    * delta×delta join, or a survivor published from a replayed epoch
    * breaks the hash. `dir` unused (regime, not scale). */
  def embeddingStreamClustered(spark: SparkSession, dir: String,
                               epochs: Int = 4): DataFrame = {
    val cdir = Similarity.clusteredCorpusDir(spark)
    val base = StateCache.replay("dedup_stream_embedding_clustered",
        Some(cdir), epochs, StateCache.Range("vec_id"), None)(
        Tables.embeddings(spark, cdir).select(col("vec_id"), col("embedding"))) {
      (b, k, st) => embeddingStreamApplyBatch(b, k, st, threshold = 0.5,
        tables = 4, bits = 10, probes = 2, compactEvery = 2, idSpan = 200)
    }
    LogState.readAsOf(spark, s"$base/state/survivors", epochs - 1L).stage()
      .orderBy(col("vec_id"))
  }

  val embeddingStreamClusteredSql: String = {
    val cos = cosineSql("a.embedding", "b.embedding")
    // emb MATERIALIZED + decorrelated dup set: the first cut's
    // correlated NOT EXISTS re-inlined the synthesis CTE and evaluated
    // the 192-term cosine chain under a nested-loop subquery — 12 s in
    // DuckDB, the single remaining over-budget oracle in the r14
    // pre-flight (every sibling gate uses the plain-join shape and runs
    // ~1 s). Same answer: a vector is dropped iff some EARLIER vector
    // is within the threshold.
    s"""WITH emb AS MATERIALIZED (
       |  ${Similarity.clusteredEmbSql}),
       |dup AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id
       |  FROM emb a JOIN emb b ON b.vec_id < a.vec_id
       |  WHERE $cos > 0.5)
       |SELECT vec_id FROM emb
       |WHERE vec_id NOT IN (SELECT vec_id FROM dup)
       |ORDER BY vec_id""".stripMargin
  }

  /** Resolve near-dup PAIRS into dedup GROUPS: connected components over
    * the similarity graph by iterative min-label propagation — each round
    * is one shuffle join + one min-aggregation, state is one (node,label)
    * row per doc, and convergence takes O(diameter) rounds (near-dup
    * components are shallow in practice; `maxIters` bounds pathological
    * chains). The canonical keep-one-per-group dedup decision at corpus
    * scale — no driver-side graph, no union-find structure. */
  def components(pairs: DataFrame, allIds: DataFrame,
                 minRounds: Int = 2, maxIters: Int = 50): DataFrame = {
    // undirected edge list, materialized once (every round reuses it).
    // localCheckpoint (eager) replaces the logical plan with the
    // materialized RDD — persist() alone is NOT enough for an iterative
    // loop: each round references `labels` twice, so the un-truncated
    // logical tree doubles per round and driver-side analysis time grows
    // 2^rounds (measured 145 s at sf0.1; checkpointed: ~2 s).
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .stage()
    var labels = allIds.select(col("doc_id"), col("doc_id").as("label"))
      .stage()
    def round(ls: DataFrame): DataFrame = ls
      .unionByName(edges
        .join(ls, edges("dst") === ls("doc_id"))
        .select(col("src").as("doc_id"), col("label")))
      .groupBy(col("doc_id"))
      .agg(min(col("label")).as("label"))
      .stage()
    // Min-label propagation converges in graph-diameter rounds. Near-dup
    // components are usually near-cliques (diameter ≤ 2), so the first
    // `minRounds` run without a probe; after that, each round pays one
    // cheap anti-join count and the loop stops at zero changed labels —
    // a longer chain converges instead of silently mislabeling its tail.
    // `maxIters` bounds pathological graphs.
    for (_ <- 1 to minRounds) labels = round(labels)
    var changed = 1L
    var iters = minRounds
    while (changed > 0 && iters < maxIters) {
      val next = round(labels)
      // changed = rows whose label moved this round (labels only ever
      // decrease, so an anti join on (doc_id, label) finds the movers) —
      // ONE count job per probe round
      changed = next.join(labels, Seq("doc_id", "label"), "left_anti").count()
      labels = next
      iters += 1
    }
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"components: stopped at maxIters=$maxIters with $changed labels " +
          "still moving — component diameter exceeds the round budget and " +
          "tail labels may be unresolved; raise maxIters")
    labels
  }

  /** Materialized near-dup pair artifacts, one per (corpus, generator):
    * pair GENERATION is an ingest-time job a pipeline runs once and
    * persists (same train-once pattern as the IVF index); group
    * RESOLUTION queries then read the artifact. The generation cost stays
    * measured in the dedup_minhash / dedup_jaccard entries; the groups
    * entries measure resolution. Pairs are deterministic, so the cached
    * artifact equals a regenerated one. Keyed by directory path on the
    * assumption the corpus under it is immutable (true for the fixture
    * dirs); a mutable corpus would key on a content fingerprint. */
  private def cachedPairs(spark: SparkSession, dir: String, kind: String)
                         (gen: => DataFrame): DataFrame =
    graft.tools.ArtifactCache.parquet(spark, dir, s"pairs_$kind") { p =>
      gen.select(col("a_id"), col("b_id")).write.mode("overwrite").parquet(p)
    }

  /** Near-dup dedup groups over the MinHash pair graph: every document
    * mapped to its group representative (the component's min doc_id), plus
    * group size — singletons included with themselves as keeper. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cachedPairs(spark, dir, "minhash")(
      minhash(spark, dir, sorted = false))
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    val labels = components(pairs, ids)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("group_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("keep_id"), col("group_size"),
        (col("doc_id") === col("label")).cast("int").as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------------------------------
  // Deterministic-regime (planted-duplicate corpus) near-dup gates
  // -------------------------------------------------------------------

  /** Deterministic planted-duplicate corpus for the hash-family gates
    * (VERDICT r11 #7, the `Similarity.writeClusteredCorpus` precedent):
    * on EXACT duplicates every hash family is exact — identical texts
    * give identical minhash signatures (every band collides, recall 1.0
    * by construction) and identical simhash fingerprints (Hamming 0) —
    * and the exact-verify stages (Jaccard / Hamming / threshold) filter
    * any luck-collision candidate pair, so the OUTPUT is a pure function
    * of the corpus and a 140-row SQL synthesis can serve as a bitwise
    * oracle. 140 docs, pure function of the index:
    *  - ids 0..119: base b = id % 40, text = 12 tokens namespaced by b
    *    ("w<b>_0" … "w<b>_11") → three exact copies of each of 40
    *    mutually shingle-disjoint texts;
    *  - ids 120..139: sub-threshold probes — the first 3 tokens of base
    *    (id−120) % 40 plus 9 unique tokens → exactly ONE shared 3-gram
    *    shingle of 10 each (Jaccard 1/19 < 0.5), so they exercise the
    *    verify-filter stage and must appear in NO pair. */
  private[graft] def writeClusteredDocs(spark: SparkSession,
                                        d: String): Unit = {
    val rows = (0 until ClusteredCorpusDocs).map { i =>
      val text =
        if (i < 120) {
          val b = i % 40
          (0 until 12).map(j => s"w${b}_$j").mkString(" ")
        } else {
          val b = (i - 120) % 40
          ((0 until 3).map(j => s"w${b}_$j") ++
            (0 until 9).map(j => s"u${i}_$j")).mkString(" ")
        }
      (i.toLong, text, "en", "clustered", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
  }

  /** Session-lifetime fixture dir for the planted corpus (the
    * Similarity.clusteredCorpusDir pattern): a stable path keys
    * cachedPairs, so the groups gate reuses the pair build. */
  private val clusteredDocsRef =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private[graft] def clusteredDocsDir(spark: SparkSession): String = {
    val got = clusteredDocsRef.get()
    if (got != null) got
    else clusteredDocsRef.synchronized {
      val again = clusteredDocsRef.get()
      if (again != null) again
      else {
        val d = graft.tools.TempDirs.createFastForJvm("graft-dedupclust")
        writeClusteredDocs(spark, d)
        clusteredDocsRef.set(d)
        d
      }
    }
  }

  /** MinHash-LSH through the hash gate in the deterministic regime: the
    * FULL production pipeline (signatures → banding → bucket cap →
    * candidate join → exact-Jaccard verify) over the planted corpus —
    * a banding bug that misses one replica pair, a bucket-cap bug that
    * drops a valid bucket, or a verify bug that passes a sub-threshold
    * probe breaks the hash. `dir` unused by design (regime, not scale).
    * The fixture-corpus entry keeps its rows-only contract — recall
    * there is genuinely approximate. */
  def minhashClustered(spark: SparkSession, dir: String): DataFrame =
    minhash(spark, clusteredDocsDir(spark))

  val minhashClusteredSql: String =
    """WITH b AS (SELECT CAST(x AS BIGINT) AS b FROM range(0, 40) t(x)),
      |p AS (
      |  SELECT b AS a_id, b + 40 AS b_id FROM b
      |  UNION ALL SELECT b, b + 80 FROM b
      |  UNION ALL SELECT b + 40, b + 80 FROM b)
      |SELECT a_id, b_id, CAST(1.0 AS DOUBLE) AS jaccard FROM p
      |ORDER BY a_id, b_id""".stripMargin

  /** SimHash in the deterministic regime: identical fingerprints on the
    * replicas (Hamming 0); cross-base and probe pairs sit at Hamming
    * ≈ 32 behind 16-bit band buckets, so the banding + exact-Hamming
    * verify must emit exactly the 120 replica pairs. */
  def simhashClustered(spark: SparkSession, dir: String): DataFrame =
    simhash(spark, clusteredDocsDir(spark))

  val simhashClusteredSql: String =
    """WITH b AS (SELECT CAST(x AS BIGINT) AS b FROM range(0, 40) t(x)),
      |p AS (
      |  SELECT b AS a_id, b + 40 AS b_id FROM b
      |  UNION ALL SELECT b, b + 80 FROM b
      |  UNION ALL SELECT b + 40, b + 80 FROM b)
      |SELECT a_id, b_id, CAST(0 AS BIGINT) AS hamming FROM p
      |ORDER BY a_id, b_id""".stripMargin

  /** Connected components over the MINHASH pair graph through the hash
    * gate (the fixture dedup_groups entry is rows-only because its pair
    * graph is hash-family-specific; here the pair graph is exact): the
    * min-label propagation must resolve each base's three replicas to
    * keeper b and leave the 20 probes as singletons. */
  def dedupGroupsClustered(spark: SparkSession, dir: String): DataFrame = {
    val cdir = clusteredDocsDir(spark)
    val pairs = cachedPairs(spark, cdir, "minhash")(
      minhash(spark, cdir, sorted = false))
    val ids = Tables.documents(spark, cdir).select(col("doc_id"))
    val labels = components(pairs, ids)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("group_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("keep_id"), col("group_size"),
        (col("doc_id") === col("label")).cast("int").as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  val dedupGroupsClusteredSql: String =
    """WITH d AS (SELECT CAST(x AS BIGINT) AS doc_id FROM range(0, 140) t(x))
      |SELECT doc_id,
      |  CASE WHEN doc_id < 120 THEN doc_id % 40 ELSE doc_id END AS keep_id,
      |  CAST(CASE WHEN doc_id < 120 THEN 3 ELSE 1 END AS BIGINT) AS group_size,
      |  CASE WHEN doc_id < 40 OR doc_id >= 120 THEN 1 ELSE 0 END AS is_keeper
      |FROM d ORDER BY doc_id""".stripMargin

  /** Group resolution under the bitwise oracle: the same min-label
    * propagation as dedupGroups, but over the ORACLED n-gram-Jaccard pair
    * graph (dedup_jaccard) instead of the hash-family-specific MinHash
    * pairs — DuckDB reproduces the pairs exactly and closes the graph with
    * WITH RECURSIVE, so the component logic itself is hash-checked, not
    * just spec-checked. */
  def dedupGroupsJaccard(spark: SparkSession, dir: String): DataFrame = {
    val pairs = cachedPairs(spark, dir, "jaccard")(ngramJaccardPairs(spark, dir))
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    val labels = components(pairs, ids)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("group_size"))
    labels.join(sizes, Seq("label"))
      .select(col("doc_id"), col("label").as("keep_id"), col("group_size"),
        (col("doc_id") === col("label")).cast("int").as("is_keeper"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of dedupGroupsJaccard: the jaccard pair graph as a CTE,
    * closed transitively by a recursive walk (UNION-distinct terminates
    * it), then per-node MIN(label) = the component minimum — the exact
    * fixpoint min-label propagation converges to. */
  val dedupGroupsJaccardSql: String =
    s"""WITH RECURSIVE
       |toks AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket, doc_id,
       |         list_distinct($tokensSql) AS toks
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM toks a JOIN toks b
       |    ON a.lang = b.lang AND a.source = b.source
       |   AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.5),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |walk(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node),
       |labels AS (SELECT node AS doc_id, MIN(label) AS keep_id FROM walk GROUP BY node),
       |sizes AS (SELECT keep_id, COUNT(*) AS group_size FROM labels GROUP BY keep_id)
       |SELECT l.doc_id, l.keep_id, s.group_size,
       |       CAST(l.doc_id = l.keep_id AS INT) AS is_keeper
       |FROM labels l JOIN sizes s USING (keep_id)
       |ORDER BY l.doc_id""".stripMargin

  /** Quality-aware retention over near-dup groups — the retention rule
    * production curation pipelines actually apply (keep the BEST
    * document of each duplicate cluster, not the lowest id; e.g.
    * RefinedWeb and FineWeb keep the longest / highest-scoring copy):
    * group labels come from the same oracled n-gram-Jaccard pair graph
    * as [[dedupGroupsJaccard]] (so DuckDB closes the graph with WITH
    * RECURSIVE and the composition is hash-checked end to end), per-doc
    * quality is the integer alphabetic-token count (the Gopher n_alpha
    * statistic — integer-exact, so the ranking sits in the hash), and
    * the keeper is argmax (quality DESC, doc_id ASC) per group via a
    * label-PARTITIONED row_number (bounded partitions — group size, not
    * corpus size). Scale shape: the pair graph + components are the
    * shared banded kernels; the ranking adds one label-keyed window
    * over a (doc_id, label, quality) slim frame. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = cachedPairs(spark, dir, "jaccard")(ngramJaccardPairs(spark, dir))
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    val labels = components(pairs, ids)
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(filter(tokens(col("text")), t => t.rlike("[a-zA-Z]")))
          .cast("long").as("quality"))
    labels.join(quality, Seq("doc_id"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("label"))
        .orderBy(col("quality").desc, col("doc_id"))))
      .select(col("doc_id"), col("label").as("group_id"), col("quality"),
        (col("rk") === 1).cast("int").as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: dedupGroupsJaccard's recursive closure + the n_alpha
    * quality recompute + ROW_NUMBER per component. */
  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE
       |toks AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket, doc_id,
       |         list_distinct($tokensSql) AS toks
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM toks a JOIN toks b
       |    ON a.lang = b.lang AND a.source = b.source
       |   AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.5),
       |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
       |          UNION ALL SELECT b_id, a_id FROM pairs),
       |walk(node, label) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node),
       |labels AS (SELECT node AS doc_id, MIN(label) AS group_id FROM walk GROUP BY node),
       |q AS (
       |  SELECT doc_id, CAST(len(list_filter($tokensSql,
       |    t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS quality
       |  FROM documents)
       |SELECT l.doc_id, l.group_id, q.quality,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY l.group_id
       |    ORDER BY q.quality DESC, l.doc_id) = 1 AS INT) AS is_kept
       |FROM labels l JOIN q USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Substring-level exact dedup (repeated-span removal)
  // ---------------------------------------------------------------------

  /** Span length (in tokens) for substring-level dedup: any token span of
    * this length occurring more than once in the corpus is removed from
    * EVERY document containing it. Production pipelines use ~50 BPE
    * tokens (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022); 12 whitespace tokens exercises the same
    * machinery against the fixture's shorter documents. */
  val SubstringN = 12

  /** Substring-level exact dedup — the span tier of the dedup spectrum
    * (doc-exact, near-dup, entity, embedding tiers exist; this removes
    * REPEATED SPANS inside otherwise-unique documents, the tier that
    * catches boilerplate, licenses, and templated passages).
    *
    * Semantics (deterministic, SQL-reproducible): a token n-gram of
    * length [[SubstringN]] that occurs ≥ 2 times anywhere in the corpus
    * (within or across documents) is a duplicated span; every token
    * covered by at least one duplicated-span occurrence is removed. Per
    * doc the result is (n_tokens, n_removed, clean_text) with the
    * surviving tokens rejoined in order. This is the n-gram formulation
    * of Lee et al.'s suffix-array criterion: a maximal repeat of length
    * ≥ N is covered exactly by its length-N sub-grams, each of which
    * repeats, so the REMOVED REGIONS are identical to the suffix-array
    * method's for the same N — computed with sorts/groupBys instead of a
    * monolithic suffix array, which is the form that distributes.
    *
    * Scale shape (the 100 TB plan, deliberately NOT all-pairs):
    *  1. positioned gram digests come from a NARROW per-doc map (the
    *     rolling-hash kernel, O(len) per doc — no shuffle, no window,
    *     no gram-string materialization; VERDICT r11 #4);
    *  2. duplicate detection shuffles 16-byte DIGEST PAIRS, never gram
    *     text — `groupBy(d1, d2)` with map-side partial counts;
    *  3. only occurrences whose digest pair repeats (a tiny fraction on
    *     a deduplicated corpus) materialize their gram text AT ALL — one
    *     slice join back to the documents — for the exact-equality
    *     confirm, which makes the result collision-proof rather than
    *     probabilistic;
    *  4. coverage is a per-doc range-frame window over marked start
    *     positions (max over [pos-N+1, pos]) — no interval explode, no
    *     self-join, one pass.
    * Every shuffle key is a digest pair, a doc_id, or a (doc_id, pos) —
    * full documents cross the wire only into the rebuild window, and
    * gram text only for colliding candidates. */
  def substringDedup(spark: SparkSession, dir: String,
                     n: Int = SubstringN): DataFrame =
    substringDedupDocs(Tables.documents(spark, dir), n)

  /** (doc_id, pos, tok) token rows of a (doc_id, text) frame. */
  private def substrToks(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))

  /** Positioned length-`n` gram DIGESTS (doc_id, pos, d1, d2) via the
    * per-doc rolling-hash kernel (VERDICT r11 #4) — replaces the former
    * window pass that materialized each gram's text (×n token bytes per
    * position, built under a doc_id shuffle + sort) before digesting it.
    * Now: NO shuffle at all (one narrow map over the document rows) and
    * O(len) work per doc instead of O(len·n) string bytes — the win that
    * matters when n is the production ~50-BPE-token span on long
    * documents. d1/d2 are two independent mod-(2⁶¹−1) polynomial hashes
    * of the window's token xxhashes (~122-bit combined key; see
    * [[graft.functions.TextKernels.gramDigests]]); callers that promise
    * collision-PROOF results reconstruct gram text for COLLIDING digest
    * pairs only ([[candGramText]]). Short docs and tail positions
    * produce no rows, as before. */
  private[graft] def substrGramDigests(documents: DataFrame, n: Int): DataFrame =
    documents.select(col("doc_id"),
        posexplode(graft.functions.TextKernels.gramDigestsUdf(n)(col("text")))
          .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        col("g._1").as("d1"), col("g._2").as("d2"))

  /** Gram TEXT for a (doc_id, pos) candidate frame — the exact-confirm
    * companion of [[substrGramDigests]]: only positions whose digest
    * pair collides ever re-materialize their gram string, via one join
    * back to the documents (re-ships the token arrays of DOCS HOLDING
    * CANDIDATES only) and a per-row array slice. */
  private def candGramText(cands: DataFrame, documents: DataFrame,
                           n: Int): DataFrame =
    cands.join(
        documents.select(col("doc_id"), tokens(col("text")).as("toks")),
        Seq("doc_id"))
      .withColumn("gram",
        array_join(slice(col("toks"), col("pos") + 1, lit(n)), " "))
      .drop("toks")

  /** The shared coverage sweep + rebuild tail: a token at `pos` is
    * removed iff some marked span starts in [pos−n+1, pos] (per-doc
    * range-frame window — no interval explode), surviving tokens rejoin
    * in order. `starts` = (doc_id, pos, is_start=1). */
  private def substrCoverRebuild(toks: DataFrame, starts: DataFrame,
                                 n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id"))
    val wCover = wDoc.orderBy(col("pos"))
      .rangeBetween(-(n - 1).toLong, Window.currentRow)
    toks
      .join(starts, Seq("doc_id", "pos"), "left_outer")
      .select(col("doc_id"), col("pos"), col("tok"),
        coalesce(col("is_start"), lit(0)).as("is_start"))
      .withColumn("cov", max(col("is_start")).over(wCover) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cov").cast("long")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("cov"),
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok"))).as("clean_text"))
  }

  /** Core of [[substringDedup]] over any (doc_id, text) frame — split out
    * so specs can plant known duplicated spans. */
  private[graft] def substringDedupDocs(documents: DataFrame,
                                        n: Int): DataFrame = {
    val occs = substrGramDigests(documents, n)
    // digest pre-filter: only digest pairs seen twice can hold a duplicate
    val dupDigests = occs.groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("d1"), col("d2"))
    val candOccs = occs.join(dupDigests, Seq("d1", "d2"), "left_semi")
    // exact confirm among candidates only (collision-proof): gram text
    // exists ONLY for colliding digests, rebuilt by one slice join
    val candGrams = candGramText(candOccs, documents, n)
    val dupGrams = candGrams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("gram"))
    val starts = candGrams.join(dupGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    substrCoverRebuild(substrToks(documents), starts, n)
      .orderBy(col("doc_id"))
  }

  /** Benchmark DECONTAMINATION — the asymmetric form of the span tier
    * (Lee et al. ACL 2022 §6; the GPT-3 appendix-C use-case): any token
    * n-gram occurring ANYWHERE in the held-out TEST split is a
    * contaminated span; every token of a TRAIN-side document covered by
    * at least one contaminated-span occurrence is removed. Unlike
    * [[substringDedup]] the relation is one-directional — test docs
    * define the banned set and are never modified; a train span
    * repeated only within train survives.
    *
    * Split rule: the deterministic md5 split this repo standardizes
    * (detSplit / lmScore): bucket '0'/'1' = test; every other doc is
    * cleaned (val + train — anything that could leak into training).
    *
    * Plan shape: test-gram digests (16-byte pairs from the rolling
    * kernel, narrow map) aggregate to a DISTINCT banned set — O(test
    * grams), small by construction (benchmarks are tiny next to a
    * training corpus; Catalyst broadcasts the banned set when stats
    * allow). Train occurrences semi-join it; only COLLIDING positions
    * re-materialize gram text on both sides for the exact confirm
    * (collision-proof, the [[substringDedupDocs]] contract); the
    * coverage sweep + rebuild runs over train docs only. */
  def decontaminate(spark: SparkSession, dir: String,
                    n: Int = SubstringN): DataFrame = {
    val all = Tables.documents(spark, dir)
      .withColumn("bucket",
        substring(md5(col("doc_id").cast("string")), 1, 1))
    val test = all.filter(col("bucket").isin("0", "1"))
      .select(col("doc_id"), col("text"))
    val train = all.filter(!col("bucket").isin("0", "1"))
      .select(col("doc_id"), col("text"))
    decontaminateDocs(train, test, n).orderBy(col("doc_id"))
  }

  /** Core of [[decontaminate]] over injectable (doc_id, text) frames —
    * split out (r16) so the composed curation pipeline can clean the
    * funnel's survivors against the planted benchmark split with the
    * exact operator the standalone gate checks. */
  private[graft] def decontaminateDocs(train: DataFrame, test: DataFrame,
                                       n: Int = SubstringN): DataFrame = {
    val testOccs = substrGramDigests(test, n)
    val banned = testOccs.select(col("d1"), col("d2")).distinct()
    val trainOccs = substrGramDigests(train, n)
    val cand = trainOccs.join(banned, Seq("d1", "d2"), "left_semi")
    // exact confirm: train candidate grams must EQUAL a test gram, not
    // just collide with one — both sides rebuild text for colliding
    // digests only
    val candGrams = candGramText(cand, train, n)
    val testGrams = candGramText(
      testOccs.join(trainOccs.select(col("d1"), col("d2")).distinct(),
        Seq("d1", "d2"), "left_semi"), test, n)
      .select(col("gram")).distinct()
    val starts = candGrams.join(testGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    substrCoverRebuild(substrToks(train), starts, n)
  }

  /** DuckDB twin of [[decontaminate]]: same md5 split, same positioned
    * grams, membership against the test-gram set by STRING equality
    * (the confirmed semantics), same coverage sweep over train docs. */
  val decontaminateSql: String = {
    val n = SubstringN
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1') AS is_test
       |  FROM documents),
       |tr AS (SELECT doc_id, $tokensSql AS tk FROM d WHERE NOT is_test),
       |te AS (SELECT doc_id, $tokensSql AS tk FROM d WHERE is_test),
       |banned AS (
       |  SELECT DISTINCT array_to_string(tk[s + 1 : s + $n], ' ') AS gram
       |  FROM te, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |occ AS (
       |  SELECT doc_id, s AS start,
       |    array_to_string(tk[s + 1 : s + $n], ' ') AS gram
       |  FROM tr, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |starts AS (SELECT o.doc_id, o.start FROM occ o JOIN banned USING (gram)),
       |toks AS (
       |  SELECT doc_id, p AS pos, tk[p + 1] AS tok
       |  FROM tr, unnest(range(0, len(tk))) AS t(p)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = 1 AS c
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN s.start IS NOT NULL THEN 1 ELSE 0 END AS is_start
       |    FROM toks t LEFT JOIN starts s
       |      ON s.doc_id = t.doc_id AND s.start = t.pos))
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
       |    ORDER BY pos), '') AS clean_text
       |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** INCREMENTAL substring dedup — the refresh path of the span tier
    * (completes the incremental axis the repo establishes for the
    * doc-level and near-dup tiers): history (doc_id < splitId) is
    * summarized ONCE into three persisted artifacts, and a delta ingest
    * pays cost ∝ delta grams + AFFECTED-history re-windowing, never a
    * full-corpus re-gram. Returns the FULL corpus result, equal to a
    * from-scratch recompute (the gate's claim — same oracle family as
    * dedup_incr_jaccard).
    *
    * Duplication key: the ~122-bit rolling digest pair (d1, d2) of
    * [[substrGramDigests]] END TO END — "identical modulo digest
    * collisions", the same contract shape [[exact]] documents for md5
    * (the oracle keys on md5(gram); the two keyings agree whenever
    * neither collides, which the gate exercises). The batch operator's
    * exact-confirm trick doesn't survive incrementality: confirming a
    * delta gram against an UNAFFECTED history doc would need that doc's
    * gram text, i.e. a corpus-sized string store; the wide digest is
    * the standard answer (and what the store ships: 16 B/gram).
    *
    * Artifacts (built once per (corpus, split); the expensive gram
    * WINDOW pass over history runs exactly once — everything else
    * derives from its output):
    *  - `occs`: positioned (g_dig, doc_id, pos) history gram digests
    *    (16 B + position per gram — the store the delta path prunes);
    *  - `digcnt`: (g_dig, cnt) aggregated from occs (global duplication
    *    arithmetic without re-scanning text);
    *  - `result`: the history-only dedup result, derived from occs +
    *    one narrow re-tokenize (reused VERBATIM for docs the delta
    *    cannot affect).
    *
    * Delta ingest: (1) window the delta docs' grams (the only window
    * work); (2) affected history docs = occs ⋉ delta digests (a doc's
    * coverage can only change through a digest the delta carries);
    * (3) affected docs' occurrences come FROM THE STORE — history text
    * is re-tokenized (narrow posexplode) only for the rebuild, never
    * re-windowed; (4) a gram occurrence is covered iff history cnt +
    * delta cnt ≥ 2 for its digest; (5) recomputed rows ∪ cached rows
    * for everything else. Unaffectedness argument: a doc with no delta
    * digest has identical global counts for every gram it holds, hence
    * identical coverage. */
  /** `mode`: `"auto"` (default — cost-based dispatch, VERDICT r11 #6),
    * `"delta"` (always the incremental path), `"rebuild"` (always the
    * from-scratch digest-keyed recompute). The result is identical in
    * all three (the incremental path's defining claim), so the gate is
    * mode-independent; `auto` decides from MEASURED inputs:
    *
    *   f = (|affected| + |delta|) / |all docs|
    *
    * where `affected` comes from the same store ⋉ delta-digest semi-join
    * the delta path needs anyway — so choosing `delta` wastes nothing,
    * and choosing `rebuild` pays only that probe before abandoning the
    * store. Rationale: the delta path's recurring term (store scan +
    * counts join + affected∪delta re-window) beats the rebuild exactly
    * when the re-windowed mass is a small slice of the corpus; at high
    * affectedness (the fixture's near-dup-heavy corpus: every replica
    * shares spans) the rebuild's one clean pass wins — the r11 finding
    * (delta 7.0 s vs rebuild 4.6 s at the 100× probe). θ = 0.2 sits
    * between the measured regimes (fixture f ≈ 0.3–0.6 → rebuild;
    * id-local long-doc delta f ≈ 0.05–0.1 → delta). The chosen mode and
    * f land in RoutingMetrics (`substr_incr_*`) so the bench artifact
    * shows the routing. Under `rebuild`, `deltaOnly` returns the full
    * frame (every doc recomputed). */
  def substringIncremental(spark: SparkSession, dir: String,
                           splitId: Long = 400, n: Int = SubstringN,
                           deltaOnly: Boolean = false,
                           mode: String = "auto"): DataFrame = {
    val all = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val hist = all.filter(col("doc_id") < splitId)
    val delta = all.filter(col("doc_id") >= splitId)
    def artifact(kind: String)(build: String => Unit): DataFrame =
      graft.tools.ArtifactCache.parquet(spark, dir,
        s"sub_${kind}_s${splitId}_n$n")(build)
    val occsArt = artifact("occs2") { p =>
      substrGramDigests(hist, n)
        .select(col("d1"), col("d2"), col("doc_id"), col("pos"))
        .write.mode("overwrite").parquet(p)
    }
    val digCnt = artifact("digcnt2") { p =>
      occsArt.groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("hc"))
        .write.mode("overwrite").parquet(p)
    }
    val histResult = artifact("result2") { p =>
      val dup = occsArt.groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .select(col("d1"), col("d2"))
      val st = occsArt.join(dup, Seq("d1", "d2"), "left_semi")
        .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
      substrCoverRebuild(substrToks(hist), st, n)
        .write.mode("overwrite").parquet(p)
    }
    val deltaOccs = substrGramDigests(delta, n)
      .stage()
    val deltaDigs = deltaOccs.select(col("d1"), col("d2")).distinct()
      .stage()
    val affected = occsArt.join(deltaDigs, Seq("d1", "d2"), "left_semi")
      .select(col("doc_id")).distinct().stage()
    if (mode == "rebuild" || (mode == "auto" && {
      val nAff = affected.count()
      val nDelta = delta.count()
      val nAll = math.max(1L, hist.count() + nDelta)
      val fBp = (nAff + nDelta) * 10000L / nAll
      graft.tools.RoutingMetrics.add("substr_incr_recompute_bp", fBp)
      fBp > 2000L
    })) {
      graft.tools.RoutingMetrics.add("substr_incr_mode_rebuild", 1L)
      return substringDedupDigestDocs(all, n).orderBy(col("doc_id"))
    }
    if (mode != "rebuild")
      graft.tools.RoutingMetrics.add("substr_incr_mode_delta", 1L)
    // affected docs' positioned occurrences come from the store; only
    // the delta's were digested this call
    val rOccs = occsArt.join(affected, Seq("doc_id"), "left_semi")
      .unionByName(deltaOccs.select(col("d1"), col("d2"), col("doc_id"), col("pos")))
    val deltaCnt = deltaOccs.groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("dc"))
    val dupDigs = digCnt.join(deltaCnt, Seq("d1", "d2"), "full_outer")
      .filter(coalesce(col("hc"), lit(0L)) + coalesce(col("dc"), lit(0L)) >= 2)
      .select(col("d1"), col("d2"))
    val starts = rOccs.join(dupDigs, Seq("d1", "d2"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    val rDocs = hist.join(affected, Seq("doc_id"), "left_semi")
      .unionByName(delta)
    val recomputed = substrCoverRebuild(substrToks(rDocs), starts, n)
    val out =
      if (deltaOnly) recomputed
      else recomputed.unionByName(
        histResult.join(affected, Seq("doc_id"), "left_anti"))
    out.orderBy(col("doc_id"))
  }

  /** The digest-keyed batch form (no exact-confirm pass — see
    * [[substringIncremental]]'s digest contract): the history-result
    * artifact builder and the shape the incremental gate's oracle
    * recomputes in full (the oracle keys on md5(gram); results agree
    * whenever neither keying collides). */
  private[graft] def substringDedupDigestDocs(documents: DataFrame,
                                              n: Int): DataFrame = {
    val occs = substrGramDigests(documents, n)
    val dupDigs = occs.groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("d1"), col("d2"))
    val starts = occs.join(dupDigs, Seq("d1", "d2"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    substrCoverRebuild(substrToks(documents), starts, n)
  }

  /** Full-recompute oracle of the incremental gate: substringSql with
    * md5(gram) as the duplication key — equality with this IS the
    * incremental claim (delta path ≡ rebuild). */
  val substringIncrSql: String = {
    val n = SubstringN
    s"""WITH base AS (
       |  SELECT doc_id, $tokensSql AS tk FROM documents),
       |occ AS (
       |  SELECT doc_id, s AS start,
       |    md5(array_to_string(tk[s + 1 : s + $n], ' ')) AS g_dig
       |  FROM base, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |dup AS (SELECT g_dig FROM occ GROUP BY g_dig HAVING COUNT(*) > 1),
       |starts AS (SELECT o.doc_id, o.start FROM occ o JOIN dup USING (g_dig)),
       |toks AS (
       |  SELECT doc_id, p AS pos, tk[p + 1] AS tok
       |  FROM base, unnest(range(0, len(tk))) AS t(p)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = 1 AS c
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN s.start IS NOT NULL THEN 1 ELSE 0 END AS is_start
       |    FROM toks t LEFT JOIN starts s
       |      ON s.doc_id = t.doc_id AND s.start = t.pos))
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
       |    ORDER BY pos), '') AS clean_text
       |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Oracle of [[substringStreamLate]]: the dense watermark recurrence
    * (q100 pattern — empty/absent epochs carry the prior max forward)
    * replayed in SQL over the SAME derived event times, then the full
    * substring-dedup recompute over exactly the on-time docs, UNION the
    * late rows with their quarantine epoch. */
  val substringStreamLateSql: String = {
    val n = SubstringN
    s"""WITH d0 AS (
       |  SELECT doc_id, text, doc_id % 4 AS arr_epoch,
       |    CASE WHEN doc_id % 7 = 3 AND doc_id % 4 >= 2
       |         THEN doc_id % 4 - 2 ELSE doc_id % 4 END AS src_epoch
       |  FROM documents),
       |t AS (SELECT doc_id, text, arr_epoch,
       |        src_epoch * 1000000 + (doc_id * 131 % 997) * 1000 AS ts_us
       |      FROM d0),
       |m AS (SELECT arr_epoch, MAX(ts_us) AS mx FROM t GROUP BY arr_epoch),
       |w AS (SELECT g.epoch,
       |        MAX(m.mx) OVER (ORDER BY g.epoch
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          - 1500000 AS wm
       |      FROM range(0, 4) g(epoch) LEFT JOIN m ON m.arr_epoch = g.epoch),
       |lt AS (SELECT t.*, CASE WHEN p.wm IS NOT NULL AND t.ts_us < p.wm
       |              THEN 1 ELSE 0 END AS late
       |       FROM t LEFT JOIN w p ON p.epoch = t.arr_epoch - 1),
       |base AS (SELECT doc_id, $tokensSql AS tk FROM lt WHERE late = 0),
       |occ AS (
       |  SELECT doc_id, s AS start,
       |    md5(array_to_string(tk[s + 1 : s + $n], ' ')) AS g_dig
       |  FROM base, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |dup AS (SELECT g_dig FROM occ GROUP BY g_dig HAVING COUNT(*) > 1),
       |starts AS (SELECT o.doc_id, o.start FROM occ o JOIN dup USING (g_dig)),
       |toks AS (
       |  SELECT doc_id, p AS pos, tk[p + 1] AS tok
       |  FROM base, unnest(range(0, len(tk))) AS t(p)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = 1 AS c
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN s.start IS NOT NULL THEN 1 ELSE 0 END AS is_start
       |    FROM toks t LEFT JOIN starts s
       |      ON s.doc_id = t.doc_id AND s.start = t.pos)),
       |res AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |    COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
       |      ORDER BY pos), '') AS clean_text
       |  FROM cov GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_removed, clean_text,
       |  CAST(NULL AS BIGINT) AS quarantine_epoch FROM res
       |UNION ALL
       |SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(NULL AS VARCHAR), CAST(arr_epoch AS BIGINT)
       |FROM lt WHERE late = 1
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Streaming substring dedup (the span tier's ingest-time form)
  // ---------------------------------------------------------------------

  /** One micro-batch of STREAMING substring dedup — the span tier's
    * ingest-time form, completing the axis the doc-level and near-dup
    * tiers already have (dedup_stream_minhash). State under `statePath`
    * is three [[graft.tools.LogState]] logs:
    *
    *  - `occs`  — positioned (g_dig, doc_id, pos) md5 gram digests,
    *    append-only (identity fold);
    *  - `docs`  — (doc_id, text), append-only — the stream owns its
    *    corpus snapshot (affected-doc rebuilds re-read text from here,
    *    never from an upstream source that may have moved on);
    *  - `results` — per-doc output rows stamped with their epoch,
    *    latest-wins fold: a recompute at a later epoch supersedes.
    *
    * Per batch: gram the batch (the only window work), find AFFECTED
    * history docs (occs-as-of epoch−1 ⋉ batch digests — a doc's
    * coverage can only change through a digest the batch carries),
    * recompute affected ∪ batch docs against global digest counts
    * (history + batch), and append the three epoch-keyed deltas.
    * INVARIANT (the gate's claim): after every epoch the folded results
    * equal the full md5 recompute over all docs ingested so far — the
    * same unaffectedness argument as [[substringIncremental]], applied
    * inductively. Replay-safe: every write is an epoch-keyed overwrite
    * derived from the batch plus state strictly older than the epoch;
    * [[graft.tools.LogState]] guards/GC do the rest. Cost note
    * (honest): beside the O(batch) window work, each epoch pays a
    * columnar scan of the digest state for affected detection and
    * counts — 16 B/gram, no text, no window; compaction bounds reader
    * fan-in. */
  def substringStreamApplyBatch(batch: DataFrame, epoch: Long,
                                statePath: String, n: Int = SubstringN,
                                compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val roots = Seq("occs", "docs", "results").map(r => s"$statePath/$r")
    roots.foreach(graft.tools.LogState.requireNoFuture(_, epoch))
    val batchDocs = batch.select(col("doc_id"), col("text")).stage()
    val batchOccs = substrGramDigests(batchDocs, n)
      .select(col("d1"), col("d2"), col("doc_id"), col("pos"))
      .stage()
    val histOccPaths = graft.tools.LogState.pathsAsOf(s"$statePath/occs",
      epoch - 1)
    val histOccs =
      if (histOccPaths.isEmpty) batchOccs.limit(0)
      else LogState.read(sp, s"$statePath/occs", histOccPaths)
    val affected = histOccs
      .join(batchOccs.select(col("d1"), col("d2")).distinct(),
        Seq("d1", "d2"), "left_semi")
      .select(col("doc_id")).distinct().stage()
    val allOccs = histOccs.unionByName(batchOccs)
    val rIds = affected.unionByName(batchDocs.select(col("doc_id"))).distinct()
    val rOccs = allOccs.join(rIds, Seq("doc_id"), "left_semi")
    val dupDigs = allOccs
      .join(rOccs.select(col("d1"), col("d2")).distinct(),
        Seq("d1", "d2"), "left_semi")
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("d1"), col("d2"))
    val starts = rOccs.join(dupDigs, Seq("d1", "d2"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    val histDocPaths = graft.tools.LogState.pathsAsOf(s"$statePath/docs",
      epoch - 1)
    val affectedDocs =
      if (histDocPaths.isEmpty) batchDocs.limit(0)
      else LogState.read(sp, s"$statePath/docs", histDocPaths)
        .join(affected, Seq("doc_id"), "left_semi")
    val rDocs = affectedDocs.unionByName(batchDocs)
    val recomputed = substrCoverRebuild(substrToks(rDocs), starts, n)
      .withColumn("epoch", lit(epoch))
    batchOccs.write.mode("overwrite")
      .parquet(s"$statePath/occs/delta/v$epoch")
    batchDocs.write.mode("overwrite")
      .parquet(s"$statePath/docs/delta/v$epoch")
    recomputed.write.mode("overwrite")
      .parquet(s"$statePath/results/delta/v$epoch")
    // append-only logs fold by identity; results by latest-wins
    graft.tools.LogState.maintain(sp,
      Seq(s"$statePath/occs", s"$statePath/docs"), epoch,
      compactEvery)(identity)
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/results"), epoch,
      compactEvery)(substringResultsFold)
  }

  /** Latest-wins fold of the streaming results log (epoch leads the
    * struct ordering; one row per (doc, epoch) by construction). */
  private def substringResultsFold(df: DataFrame): DataFrame =
    df.groupBy(col("doc_id"))
      .agg(max(struct(col("epoch"), col("n_tokens"), col("n_removed"),
        col("clean_text"))).as("m"))
      .select(col("doc_id"), col("m.epoch").as("epoch"),
        col("m.n_tokens").as("n_tokens"),
        col("m.n_removed").as("n_removed"),
        col("m.clean_text").as("clean_text"))

  /** Folded streaming-results view as of `upTo`; None before the first
    * batch lands. */
  def substringStreamState(sp: SparkSession, statePath: String,
                           upTo: Long): Option[DataFrame] = {
    val root = s"$statePath/results"
    val paths = graft.tools.LogState.pathsAsOf(root, upTo)
    if (paths.isEmpty) None
    else Some(substringResultsFold(LogState.read(sp, root, paths)))
  }

  /** STREAMING substring dedup through the HASH GATE: deterministic
    * epoch batches (pmod(doc_id, epochs), applied in order — every doc
    * ingested exactly once) drive [[substringStreamApplyBatch]] with
    * compaction live underneath, then the folded state is read back —
    * it must equal the FULL md5 recompute over the corpus
    * (substringIncrSql, the same oracle as the incremental form): a
    * missed affected-doc recompute, a stale superseded row, or a
    * coverage drift anywhere in the log protocol breaks the hash. */
  def substringStream(spark: SparkSession, dir: String,
                      epochs: Int = 4, byRange: Boolean = false): DataFrame = {
    // pmod batches (the gate): worst-case cross-epoch affectedness.
    // byRange (probes): contiguous id slices — the id-local ingest
    // regime where affected sets stay near the batch's own range.
    val slicing =
      if (byRange) StateCache.Range("doc_id") else StateCache.Mod("doc_id")
    val base = StateCache.replay("dedup_stream_substring", Some(dir), epochs,
        slicing, None)(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))) {
      (b, k, st) => substringStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    substringStreamState(spark, s"$base/state", epochs - 1)
      .getOrElse(sys.error("substring stream: no state"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
      .stage()
      .orderBy(col("doc_id"))
  }

  /** The planted event-time schedule of every lateness gate — its one
    * Scala definition, applied by [[StateCache.replay]]: `arr_epoch` =
    * `arrEpoch` (the replay slice); rows with id % 7 == 3 arriving in
    * epoch ≥ 2 carry a ts from TWO EPOCHS AGO (planted disorder); the
    * within-epoch spread (id·131 % 997, in millis) makes roughly half
    * the planted rows fall below the carried watermark — the other half
    * are old-but-tolerated, so the gate separates "late" from merely
    * "out of order". Mirrored verbatim in each gate's oracle. */
  private[graft] def lateEventTime(docs: DataFrame, id: Column,
                                   arrEpoch: Column): DataFrame =
    docs
      .withColumn("arr_epoch", arrEpoch)
      .withColumn("src_epoch",
        when(id % 7 === 3 && col("arr_epoch") >= 2,
          col("arr_epoch") - 2).otherwise(col("arr_epoch")))
      .withColumn("ts_us",
        col("src_epoch") * 1000000L + (id * 131 % 997) * 1000L)

  /** STREAMING substring dedup under EVENT-TIME LATENESS (VERDICT r11
    * #5): each epoch batch passes through the shared watermark wrapper
    * ([[CdcUpsert.withLateness]]) before touching the dedup state —
    * rows below the carried watermark are quarantined (epoch-keyed,
    * auditable, replay-idempotent) and never enter the shingle/digest
    * logs; the watermark advances from ALL arriving rows. The gate's
    * output is the folded on-time dedup state UNION the quarantine
    * (dedup fields null, quarantine epoch carried), so a wrapper that
    * leaks one late doc into the state, misclassifies a tolerated
    * disordered doc, or drops a quarantine row breaks the hash. The
    * oracle replays the watermark recurrence densely (q100 pattern) and
    * recomputes the substring dedup over exactly the on-time docs. */
  def substringStreamLate(spark: SparkSession, dir: String,
                          epochs: Int = 4,
                          latenessMicros: Long = 1500000L): DataFrame = {
    val base = StateCache.replay("dedup_stream_substring_late", Some(dir),
        epochs, StateCache.Mod("doc_id"), Some(latenessMicros))(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"))) {
      (b, k, st) => substringStreamApplyBatch(b, k, st, compactEvery = 2)
    }
    CdcUpsert.withQuarantine(
        substringStreamState(spark, s"$base/state", epochs - 1)
          .getOrElse(sys.error("substring stream late: no state"))
          .select(col("doc_id"), col("n_tokens"), col("n_removed"),
            col("clean_text")),
        s"$base/late", epochs - 1L, "doc_id")
      .stage().orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Streaming decontamination (eval sets update mid-training)
  // ---------------------------------------------------------------------

  /** One micro-batch of STREAMING benchmark decontamination (VERDICT
    * r13 #6): [[decontaminate]]'s asymmetric span removal where BOTH
    * sides stream — train documents arrive per batch, and the held-out
    * eval/test set can gain documents mid-training (the practical
    * reality: benchmarks are added while a run is in flight, and
    * already-ingested train docs must be re-cleaned against them).
    *
    * State under `statePath` is [[substringStreamApplyBatch]]'s layout
    * plus one log:
    *  - `banned`  — DISTINCT test-gram digest pairs (d1, d2), the
    *    16 B/gram banned set (distinct-fold on compaction);
    *  - `occs` / `docs` / `results` — exactly the substring stream's
    *    three logs over the TRAIN side (append-only positioned digests,
    *    owned text snapshot, latest-wins per-doc results).
    *
    * Per batch: gram both sides (the only window work); affected
    * history docs = hist occs ⋉ THIS batch's NEW banned digests — the
    * banned set only grows and coverage is monotone in it, so an
    * already-clean history doc's output can change only through a
    * digest banned this epoch (the same unaffectedness argument as
    * [[substringIncremental]], with growth one-sided); recompute
    * affected ∪ arriving train docs against the FULL banned set as-of
    * this epoch; append the four epoch-keyed deltas. Replay-safe by
    * the shared contract (every write derives from the batch plus
    * state strictly older than the epoch).
    *
    * Membership is DIGEST-keyed end to end (the incremental form's
    * documented deviation: batch [[decontaminate]]'s exact-confirm
    * needs both sides' gram TEXT, i.e. a corpus-sized string store in
    * streaming state); digest and string keyings agree whenever
    * neither collides, which the gate corpus exercises — the stream
    * therefore shares the batch operator's oracle. */
  def decontaminateStreamApplyBatch(trainBatch: DataFrame,
                                    testBatch: DataFrame, epoch: Long,
                                    statePath: String, n: Int = SubstringN,
                                    compactEvery: Int = 4): Unit = {
    val sp = trainBatch.sparkSession
    Seq("banned", "occs", "docs", "results")
      .foreach(r => graft.tools.LogState.requireNoFuture(s"$statePath/$r", epoch))
    val batchDocs = trainBatch.select(col("doc_id"), col("text"))
      .stage()
    val batchOccs = substrGramDigests(batchDocs, n)
      .select(col("d1"), col("d2"), col("doc_id"), col("pos"))
      .stage()
    val newBanned = substrGramDigests(
        testBatch.select(col("doc_id"), col("text")), n)
      .select(col("d1"), col("d2")).distinct().stage()
    val histBannedPaths =
      graft.tools.LogState.pathsAsOf(s"$statePath/banned", epoch - 1)
    val banned =
      (if (histBannedPaths.isEmpty) newBanned
       else LogState.read(sp, s"$statePath/banned", histBannedPaths)
         .unionByName(newBanned))
        .distinct()
    val histOccPaths =
      graft.tools.LogState.pathsAsOf(s"$statePath/occs", epoch - 1)
    val histOccs =
      if (histOccPaths.isEmpty) batchOccs.limit(0)
      else LogState.read(sp, s"$statePath/occs", histOccPaths)
    val affected = histOccs.join(newBanned, Seq("d1", "d2"), "left_semi")
      .select(col("doc_id")).distinct().stage()
    val histDocPaths =
      graft.tools.LogState.pathsAsOf(s"$statePath/docs", epoch - 1)
    val affectedDocs =
      if (histDocPaths.isEmpty) batchDocs.limit(0)
      else LogState.read(sp, s"$statePath/docs", histDocPaths)
        .join(affected, Seq("doc_id"), "left_semi")
    val rDocs = affectedDocs.unionByName(batchDocs)
    val rOccs = histOccs.join(affected, Seq("doc_id"), "left_semi")
      .unionByName(batchOccs)
    val starts = rOccs.join(banned, Seq("d1", "d2"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    val recomputed = substrCoverRebuild(substrToks(rDocs), starts, n)
      .withColumn("epoch", lit(epoch))
    newBanned.write.mode("overwrite")
      .parquet(s"$statePath/banned/delta/v$epoch")
    batchOccs.write.mode("overwrite")
      .parquet(s"$statePath/occs/delta/v$epoch")
    batchDocs.write.mode("overwrite")
      .parquet(s"$statePath/docs/delta/v$epoch")
    recomputed.write.mode("overwrite")
      .parquet(s"$statePath/results/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/banned"), epoch,
      compactEvery)(_.distinct())
    graft.tools.LogState.maintain(sp,
      Seq(s"$statePath/occs", s"$statePath/docs"), epoch,
      compactEvery)(identity)
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/results"), epoch,
      compactEvery)(substringResultsFold)
  }

  /** STREAMING decontamination through the HASH GATE: the batch
    * operator's md5 split (bucket '0'/'1' = test), both sides arriving
    * in pmod(doc_id, epochs) batches — worst-case cross-epoch
    * affectedness, every test delta re-cleaning train docs from ALL
    * earlier epochs. After the last epoch the folded results must
    * equal batch [[decontaminate]] over the whole corpus — the SAME
    * oracle ([[decontaminateSql]]): a missed re-clean after a banned
    * delta, a stale superseded row, or a leaked test doc breaks the
    * hash. */
  def decontaminateStream(spark: SparkSession, dir: String,
                          epochs: Int = 4): DataFrame = {
    val base = StateCache.replay("dedup_stream_decontaminate", Some(dir),
        epochs, StateCache.Mod("doc_id"), None)(
        Tables.documents(spark, dir).select(col("doc_id"), col("text"),
          substring(md5(col("doc_id").cast("string")), 1, 1)
            .isin("0", "1").as("is_test"))) { (b, k, st) =>
      decontaminateStreamApplyBatch(
        b.filter(!col("is_test")).select(col("doc_id"), col("text")),
        b.filter(col("is_test")).select(col("doc_id"), col("text")),
        k, st, compactEvery = 2)
    }
    substringStreamState(spark, s"$base/state", epochs - 1)
      .getOrElse(sys.error("decontaminate stream: no state"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
      .stage()
      .orderBy(col("doc_id"))
  }

  /** KEEP-FIRST substring dedup — the published method's actual
    * retention rule (Lee et al. remove a duplicated substring from all
    * but ONE of the documents): a duplicated gram's occurrence at the
    * smallest (doc_id, pos) is RETAINED; only later occurrences mark
    * coverage. Same machinery as [[substringDedup]] with one extra
    * rank-over-gram window on the (tiny) duplicated-occurrence frame —
    * the canonical-winner choice is deterministic, so the oracle
    * reproduces it exactly. At scale the rank partitions by gram over
    * the confirmed-duplicate occurrences only (≪ corpus). */
  def substringDedupKeepFirst(spark: SparkSession, dir: String,
                              n: Int = SubstringN): DataFrame =
    substringDedupDocsKeepFirst(Tables.documents(spark, dir), n)

  private[graft] def substringDedupDocsKeepFirst(documents: DataFrame,
                                                 n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occs = substrGramDigests(documents, n)
    val dupDigests = occs.groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .select(col("d1"), col("d2"))
    val candOccs = occs.join(dupDigests, Seq("d1", "d2"), "left_semi")
    val candGrams = candGramText(candOccs, documents, n)
    val dupGrams = candGrams.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select(col("gram"))
    val wFirst = Window.partitionBy(col("gram"))
      .orderBy(col("doc_id"), col("pos"))
    val starts = candGrams.join(dupGrams, Seq("gram"), "left_semi")
      .withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") > 1) // the gram's first occurrence is retained
      .select(col("doc_id"), col("pos"), lit(1).as("is_start"))
    substrCoverRebuild(substrToks(documents), starts, n)
      .orderBy(col("doc_id"))
  }

  val substringKeepFirstSql: String = {
    val n = SubstringN
    s"""WITH base AS (
       |  SELECT doc_id, $tokensSql AS tk FROM documents),
       |occ AS (
       |  SELECT doc_id, s AS start,
       |    array_to_string(tk[s + 1 : s + $n], ' ') AS gram
       |  FROM base, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |dup AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(*) > 1),
       |starts AS (
       |  SELECT doc_id, start FROM (
       |    SELECT o.doc_id, o.start,
       |      ROW_NUMBER() OVER (PARTITION BY o.gram
       |        ORDER BY o.doc_id, o.start) AS rn
       |    FROM occ o JOIN dup USING (gram))
       |  WHERE rn > 1),
       |toks AS (
       |  SELECT doc_id, p AS pos, tk[p + 1] AS tok
       |  FROM base, unnest(range(0, len(tk))) AS t(p)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = 1 AS c
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN s.start IS NOT NULL THEN 1 ELSE 0 END AS is_start
       |    FROM toks t LEFT JOIN starts s
       |      ON s.doc_id = t.doc_id AND s.start = t.pos))
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
       |    ORDER BY pos), '') AS clean_text
       |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin: same tokenizer, same positioned grams (list slice),
    * same >1 duplication rule, same range-frame coverage sweep, same
    * space-rejoin. COALESCE('') matches concat_ws over an all-removed
    * doc (empty string, not NULL). */
  val substringSql: String = {
    val n = SubstringN
    s"""WITH base AS (
       |  SELECT doc_id, $tokensSql AS tk FROM documents),
       |occ AS (
       |  SELECT doc_id, s AS start,
       |    array_to_string(tk[s + 1 : s + $n], ' ') AS gram
       |  FROM base, unnest(range(0, greatest(len(tk) - ${n - 1}, 0))) AS t(s)),
       |dup AS (SELECT gram FROM occ GROUP BY gram HAVING COUNT(*) > 1),
       |starts AS (SELECT o.doc_id, o.start FROM occ o JOIN dup USING (gram)),
       |toks AS (
       |  SELECT doc_id, p AS pos, tk[p + 1] AS tok
       |  FROM base, unnest(range(0, len(tk))) AS t(p)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      RANGE BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = 1 AS c
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN s.start IS NOT NULL THEN 1 ELSE 0 END AS is_start
       |    FROM toks t LEFT JOIN starts s
       |      ON s.doc_id = t.doc_id AND s.start = t.pos))
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(CASE WHEN NOT c THEN tok END, ' '
       |    ORDER BY pos), '') AS clean_text
       |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> ((s: SparkSession, d: String) => substringDedup(s, d)),
    "dedup_substring_keepfirst" -> ((s: SparkSession, d: String) => substringDedupKeepFirst(s, d)),
    "dedup_incr_substring" -> ((s: SparkSession, d: String) => substringIncremental(s, d)),
    "dedup_stream_substring" -> ((s: SparkSession, d: String) => substringStream(s, d)),
    "dedup_stream_decontaminate" -> ((s: SparkSession, d: String) => decontaminateStream(s, d)),
    "dedup_stream_substring_late" -> ((s: SparkSession, d: String) => substringStreamLate(s, d)),
    "dedup_incremental" -> ((s: SparkSession, d: String) => incremental(s, d)),
    "dedup_contamination" -> ((s: SparkSession, d: String) => contamination(s, d)),
    "dedup_overlap_matrix" -> (overlapMatrix _),
    "dedup_groups_jaccard" -> (dedupGroupsJaccard _),
    "dedup_keep_best" -> (dedupKeepBest _),
    "dedup_groups"    -> (dedupGroups _),
    "dedup_exact"     -> (exact _),
    "dedup_keyed"     -> (keyed _),
    "dedup_minhash"   -> ((s: SparkSession, d: String) => minhash(s, d)),
    "dedup_decontaminate" -> ((s: SparkSession, d: String) => decontaminate(s, d)),
    "dedup_minhash_clustered" -> (minhashClustered _),
    "dedup_incr_minhash_clustered" -> (minhashIncrementalClustered _),
    "dedup_stream_simhash_clustered" -> ((s: SparkSession, d: String) => simhashStreamClustered(s, d)),
    "dedup_stream_minhash_clustered" -> ((s: SparkSession, d: String) => minhashStreamClustered(s, d)),
    "dedup_stream_minhash_late" -> ((s: SparkSession, d: String) => minhashStreamLateClustered(s, d)),
    "dedup_stream_simhash_late" -> ((s: SparkSession, d: String) => simhashStreamLateClustered(s, d)),
    "dedup_stream_exact_ttl" -> ((s: SparkSession, d: String) => exactStreamTtlClustered(s, d)),
    "dedup_stream_embedding_clustered" -> ((s: SparkSession, d: String) => embeddingStreamClustered(s, d)),
    "dedup_stream_embedding_late" -> ((s: SparkSession, d: String) => embeddingStreamLateClustered(s, d)),
    "dedup_incr_simhash_clustered" -> (simhashIncrementalClustered _),
    "dedup_simhash_clustered" -> (simhashClustered _),
    "dedup_groups_clustered" -> (dedupGroupsClustered _),
    "dedup_simhash"   -> ((s: SparkSession, d: String) => simhash(s, d)),
    "dedup_jaccard"   -> ((s: SparkSession, d: String) => ngramJaccard(s, d)),
    "dedup_jaccard_guarded" -> ((s: SparkSession, d: String) => ngramJaccardGuarded(s, d)),
    "dedup_incr_jaccard" -> ((s: SparkSession, d: String) => ngramJaccardIncremental(s, d)),
    "dedup_incr_minhash" -> ((s: SparkSession, d: String) => minhashIncremental(s, d)),
    "dedup_stream_minhash" -> ((s: SparkSession, d: String) => minhashStream(s, d)),
    "dedup_fuzzy"     -> ((s: SparkSession, d: String) => fuzzy(s, d)),
    "dedup_embedding" -> ((s: SparkSession, d: String) => embeddingCosine(s, d)),
    "dedup_embedding_lsh" -> ((s: SparkSession, d: String) => embeddingLsh(s, d)),
    "dedup_embedding_lsh_clustered" -> (embeddingLshClustered _),
    "dedup_incr_embedding_clustered" -> (embeddingLshIncrClustered _),
    "dedup_semantic" -> (semanticDedupFixture _),
    "dedup_semantic_clustered" -> (semanticDedupClustered _),
    "dedup_incr_semantic_clustered" -> (semanticDedupIncrClustered _),
    "dedup_semantic_refresh_clustered" -> (semanticRefreshClustered _),
    "dedup_semantic_refresh_nodrift_clustered" -> (semanticRefreshNoDriftClustered _),
    "dedup_stream_semantic_clustered" ->
      ((s: SparkSession, d: String) => semanticStreamClustered(s, d)),
  )

  /** minhash/simhash signatures are hash-family-specific → rows-only check
    * (SURVEY §5.5); jaccard + embedding-cosine are exact math → oracled. */
  val oracles: Map[String, String] = Map(
    "dedup_substring"   -> substringSql,
    "dedup_substring_keepfirst" -> substringKeepFirstSql,
    // the oracle IS the full recompute — equality is the incremental claim
    "dedup_incr_substring" -> substringIncrSql,
    "dedup_stream_substring" -> substringIncrSql,
    "dedup_stream_decontaminate" -> decontaminateSql,
    "dedup_stream_substring_late" -> substringStreamLateSql,
    "dedup_incremental" -> incrementalSql,
    "dedup_contamination" -> contaminationSql,
    "dedup_overlap_matrix" -> overlapMatrixSql,
    "dedup_groups_jaccard" -> dedupGroupsJaccardSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "dedup_decontaminate" -> decontaminateSql,
    "dedup_minhash_clustered" -> minhashClusteredSql,
    "dedup_incr_minhash_clustered" -> minhashClusteredSql,
    "dedup_stream_simhash_clustered" -> simhashStreamClusteredSql,
    // same survivor set as the simhash stream gate by corpus construction
    "dedup_stream_minhash_clustered" -> simhashStreamClusteredSql,
    "dedup_stream_minhash_late" -> minhashStreamLateClusteredSql,
    // same survivor families as minhash-late by corpus construction
    // (exact replicas → Hamming 0), so the two late gates share one oracle
    "dedup_stream_simhash_late" -> minhashStreamLateClusteredSql,
    "dedup_stream_exact_ttl" -> exactStreamTtlClusteredSql,
    "dedup_stream_embedding_clustered" -> embeddingStreamClusteredSql,
    "dedup_stream_embedding_late" -> embeddingStreamLateClusteredSql,
    "dedup_incr_simhash_clustered" -> simhashClusteredSql,
    "dedup_simhash_clustered" -> simhashClusteredSql,
    "dedup_groups_clustered" -> dedupGroupsClusteredSql,
    "dedup_exact"     -> exactSql,
    "dedup_keyed"     -> keyedSql,
    "dedup_jaccard"   -> ngramJaccardSql,
    "dedup_jaccard_guarded" -> ngramJaccardGuardedSql,
    // the oracle IS the full recompute — equality is the incremental claim
    "dedup_incr_jaccard" -> ngramJaccardSql,
    "dedup_fuzzy"     -> fuzzySql,
    "dedup_embedding" -> embeddingCosineSql,
    "dedup_embedding_lsh_clustered" -> embeddingLshClusteredSql,
    "dedup_incr_embedding_clustered" -> embeddingLshClusteredSql,
    "dedup_semantic_clustered" -> semanticDedupClusteredSql,
    // incremental and streaming forms share the batch gate's oracle:
    // equality-with-rebuild IS their claim (q38/q34 precedent)
    "dedup_incr_semantic_clustered" -> semanticDedupClusteredSql,
    "dedup_semantic_refresh_clustered" -> semanticRefreshClusteredSql,
    "dedup_semantic_refresh_nodrift_clustered" -> semanticRefreshNoDriftClusteredSql,
    "dedup_stream_semantic_clustered" -> semanticDedupClusteredSql,
  )
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tools.StateCache
import graft.tools.Stage._

/** Similarity search over `embeddings.embedding` (array<float>, dim 64).
  *
  * Three tiers, trading recall for scan cost — the standard ANN ladder:
  *  1. brute force: exact top-k, O(n·q) — the correctness baseline, still
  *     the right plan when the query set is small and broadcastable;
  *  2. IVF: coarse centroids + probe the nearest cells — scan cost drops to
  *     O(n·q / cells · probes);
  *  3. hyperplane LSH: signature equality bucket join — sub-linear
  *     candidate generation, fully shuffle-based, no centroids needed.
  *
  * Scale posture: the query set is the broadcast (small) side of every
  * tier. Brute force and IVF never shuffle the corpus — IVF assigns cells
  * and probes them map-side against a driver-side quantizer; LSH, PQ and
  * the graph tier generate slim (q_id, n_id) candidates and rejoin the
  * corpus for the rerank. Every tier ends in [[rankTail]]: one hash
  * exchange of scored rows on q_id for the rank window, then a sort of at
  * most queries × K rows in one partition (no range exchange). All cosine
  * math is the explicit left-fold from Dedup.cosine, bit-identical to the
  * oracle.
  *
  * Public-literature anchors: random-hyperplane LSH (Charikar, STOC
  * 2002), IVF coarse quantization (Jégou/Douze/Schmid, "Product
  * quantization for nearest neighbor search", TPAMI 2011); distributed
  * top-k search framing per PAPERS.md (REPOSE ICDE 2021; EDBT 2020).
  */
object Similarity {

  val K = 5
  val NumQueries = 8  // vec_id < 8 are the query vectors

  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  private def corpusDf(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))

  /** Embedding-corpus row count, memoized per (dir, content token): the
    * adaptive-bit/crossover derivations need one metadata-only count
    * job — re-running it every iteration of every ANN entry was pure
    * scheduler dispatch on an immutable corpus. */
  private[graft] def corpusCount(spark: SparkSession, dir: String): Long =
    graft.tools.ArtifactCache.memo[java.lang.Long](dir, "embeddings_n") {
      java.lang.Long.valueOf(Tables.embeddings(spark, dir).count())
    }.longValue

  /** Exact brute-force top-k: broadcast the query set against the corpus,
    * per-row cosine (native codegen'd expression), then per-query top-k
    * via rank-over-window. The window shuffles O(n·q) scored rows keyed by
    * q_id; with q small this is one narrow shuffle. */
  def bruteForceTopK(spark: SparkSession, dir: String): DataFrame =
    rankTail(corpusDf(spark, dir).join(broadcast(queriesDf(spark, dir)),
        col("q_id") =!= col("n_id"))
      .withColumn("cos", Dedup.cosine("q_emb", "n_emb")))

  /** Shared exact-rerank tail of every tier: rank scored candidates per
    * query on (cos DESC, n_id), keep K. One definition so the tie order
    * every oracle pins cannot drift between tiers.
    *
    * The result is bounded by construction: at most queries × K rows,
    * the queries being the broadcast side. So the final sort runs in one
    * partition — `coalesce(1)` reports `SinglePartition`, which already
    * satisfies the sort's ordered distribution, so no range exchange and
    * no RangePartitioner sampling job is planned. The scoring scan and
    * the window's hash exchange upstream keep their parallelism;
    * (q_id, rank) is unique, so the row order is the same either way. */
  private def rankTail(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
      .coalesce(1)
      .orderBy(col("q_id"), col("rank"))
  }

  /** Exact rerank of a SLIM (q_id, n_id) candidate frame: rejoin the
    * broadcast queries and the corpus, score, rank — the tail LSH and PQ
    * share (their candidate generation ships ids only). */
  private def rerankSlim(spark: SparkSession, dir: String,
                         cands: DataFrame): DataFrame =
    rankTail(cands
      .join(broadcast(queriesDf(spark, dir)), Seq("q_id"))
      .join(corpusDf(spark, dir), Seq("n_id"))
      .withColumn("cos", Dedup.cosine("q_emb", "n_emb")))

  val bruteForceTopKSql: String = {
    val cos = Dedup.cosineSql("q.embedding", "n.embedding")
    s"""SELECT q_id, rank, n_id, cos FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $cos AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, n.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries) t
       |WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // IVF (inverted-file) ANN
  // ---------------------------------------------------------------------

  /** The one IVF parameter set: ivfTopK's defaults AND the index
    * recallMetrics measures — shared constants so the reported candidate
    * fraction can never silently describe a different index than the
    * recall beside it (ADVICE r9). */
  val IvfNprobe = 4
  val IvfCells = 6
  val IvfIterations = 2

  /** Trained-index cache: a real pipeline trains the coarse quantizer ONCE
    * and reuses it for every query and every ingest batch — retraining per
    * query would make the bench measure training, not search. First use on
    * a corpus trains via KMeans.fit and persists (cluster_id, centroid) to
    * parquet (the production artifact path); every later search reuses
    * its driver-side copy, collected once per JVM ([[KMeans.frozen]]).
    * Training is hash-deterministic, so a cached index equals a retrained
    * one; the key binds (corpus dir + content token, cells, iterations). */
  private[graft] def ivfQuantizer(spark: SparkSession, dir: String,
                                  cells: Int, iterations: Int): KMeans.Quantizer =
    KMeans.frozen(spark, dir, s"ivf_c${cells}_i$iterations") {
      KMeans.fit(spark, Tables.embeddings(spark, dir), cells, iterations)
    }

  /** IVF ANN with a REAL trained coarse quantizer: KMeans.fit learns the
    * cells (k-means‖ init + Lloyd, all hash-deterministic), the corpus is
    * bucketed by nearest cell (map-side kernel assignment, no shuffle),
    * each query probes the `nprobe` cells whose centroid is nearest, and
    * exact cosine reranks inside the probed cells only — scan cost drops
    * to ~n·nprobe/cells per query. Float→double casts are exact, so the
    * reported cosines are bit-identical to the brute-force values.
    * The quantizer comes from the persisted-index cache (ivfQuantizer): train
    * once, search many — the query measures SEARCH after the first call. */
  def ivfTopK(spark: SparkSession, dir: String, nprobe: Int = IvfNprobe,
              cells: Int = IvfCells, iterations: Int = IvfIterations): DataFrame =
    rankTail(ivfCandidates(spark, dir, nprobe, cells, iterations)
      .withColumn("cos", Dedup.cosine("q_emb", "n_emb")))

  /** The (query, neighbor) candidates IVF's exact rerank scans — split out
    * of [[ivfTopK]] so the measured candidate fraction ([[recallMetrics]])
    * counts exactly the frame the query scores. */
  private[graft] def ivfCandidates(spark: SparkSession, dir: String,
                                   nprobe: Int, cells: Int,
                                   iterations: Int): DataFrame =
    ivfProbe(Tables.embeddings(spark, dir),
      ivfQuantizer(spark, dir, cells, iterations), nprobe)

  /** The IVF probe given an ALREADY-TRAINED quantizer — split out so the
    * drift-refresh protocol can search with either the frozen or a
    * retrained quantizer through the one probing definition. Both halves
    * are map-side over the driver-side matrix: the corpus is bucketed by
    * nearest cell, and each query's `nprobe` cells come from the
    * [[graft.functions.VectorKernels.probeCells]] kernel (no cross join,
    * no window, no exchange). */
  private def ivfProbe(e: DataFrame, q: KMeans.Quantizer,
                       nprobe: Int): DataFrame = {
    val vecs = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // corpus bucketed by trained cell — one map-side pass
    val corpus = KMeans.assign(vecs, q)
      .select(col("cluster_id").as("cell"), col("vec_id").as("n_id"),
        col("v").as("n_emb"))
    val probed = vecs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("q_emb"),
        explode(graft.functions.VectorKernels
          .probeCellsUdf(q.ids, q.centroids, nprobe)(col("v"))).as("cell"))
    // exact rerank within probed cells only
    corpus.join(broadcast(probed), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
  }

  /** DRIFT-TRIGGERED quantizer refresh for the SEARCH consumer — the
    * protocol [[Dedup.semanticDedupRefresh]] runs for the dedup
    * consumer, applied to the IVF index (VERDICT r16 #4's other half:
    * the drift monitor guards every frozen quantizer, and the search
    * tier deploys one too). History (vec_id < splitId) owns the trained
    * index; a delta ingest is scored by [[embDriftDims]] — quiet
    * monitor → search the WHOLE corpus with the FROZEN history-trained
    * quantizer (assignment is map-side; new vectors just bucket into
    * existing cells — the cheap path, and the correct one while the
    * distribution holds); any drifted dim → retrain on history ∪ delta
    * and search with the fresh quantizer (stale cells would park the
    * new directions' vectors in unrelated cells and the new-direction
    * queries would probe them blind). The `branch` column makes the
    * decision hash-gated: a scoring bug flips it and breaks the gate
    * even where both branches' top-k would coincide. */
  def ivfTopKRefresh(spark: SparkSession, dir: String, splitId: Long,
                     cells: Int = IvfCells,
                     cellsRefresh: Int = 12,
                     nprobe: Int = IvfNprobe,
                     iterations: Int = IvfIterations,
                     thresholdMicro: Long = Dedup.DriftThresholdMicro)
      : DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val drifted = embDriftDims(
        embStatsOf(e.filter(col("vec_id") < splitId)),
        embStatsOf(e.filter(col("vec_id") >= splitId)),
        thresholdMicro)
      .limit(1).collect().nonEmpty
    val (quantizer, branch) =
      if (drifted)
        (KMeans.Quantizer.of(KMeans.fit(spark, e, cellsRefresh, iterations)),
          "refresh")
      else
        (KMeans.frozen(spark, dir,
          s"ivf_hist_c${cells}_i${iterations}_lt$splitId") {
          KMeans.fit(spark, e.filter(col("vec_id") < splitId), cells, iterations)
        }, "frozen")
    rankTail(ivfProbe(e, quantizer, nprobe)
        .withColumn("cos", Dedup.cosine("q_emb", "n_emb")))
      .withColumn("branch", lit(branch))
  }

  /** The refresh arm on the DRIFTED corpus (the semantic-refresh gate's
    * regime): dims 60/61 shift 0.5 in the mean past the threshold, so
    * the retrain branch is FORCED; the retrained cells co-cluster every
    * direction's identical-up-to-jitter members, the query's own cell
    * is always probed, and the history queries' true top-k never leave
    * their direction — so refresh search == brute over the 270-vector
    * corpus, which the oracle synthesizes. */
  def ivfRefreshClustered(spark: SparkSession, dir: String): DataFrame =
    ivfTopKRefresh(spark, driftedCorpusDir(spark), splitId = 200)

  /** The NO-DRIFT arm on the standard clustered corpus split at 150:
    * the monitor is quiet, so search runs over the full corpus with the
    * HISTORY-trained frozen quantizer — delta vectors of every planted
    * direction bucket into their direction's existing cell, so the
    * frozen path is exact here too, and the gate pins that the protocol
    * adds nothing when quiet. */
  def ivfRefreshNoDriftClustered(spark: SparkSession, dir: String): DataFrame =
    ivfTopKRefresh(spark, clusteredCorpusDir(spark), splitId = 150)

  lazy val ivfRefreshClusteredSql: String = {
    val cos = Dedup.cosineSql("q.embedding", "n.embedding")
    s"""WITH emb AS (
       |  $driftedEmbSql)
       |SELECT q_id, rank, n_id, cos, 'refresh' AS branch FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $cos AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, n.vec_id) AS rank
       |  FROM emb q JOIN emb n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries) t
       |WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  lazy val ivfRefreshNoDriftSql: String =
    s"""WITH b AS (
       |  $clusteredBruteSql)
       |SELECT q_id, rank, n_id, cos, 'frozen' AS branch FROM b
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Hyperplane LSH ANN
  // ---------------------------------------------------------------------

  val LshTables = 4
  val LshProbes = 2 // multi-probe Hamming radius on the QUERY side

  /** Buckets probed per query per table at Hamming radius ≤ d. */
  def probeCount(bits: Int, d: Int): Long =
    1L + (if (d >= 1) bits.toLong else 0L) +
      (if (d >= 2) bits.toLong * (bits - 1) / 2 else 0L)

  /** Signature width as a function of corpus size — the sub-linearity knob.
    *
    * Two constraints, both pushing bits UP with n:
    *  1. occupancy: 2^bits ≳ 4·n keeps expected bucket size ≲ 1/4, so the
    *     bucket self-join/probe join stays narrow (bits ≥ log2(n)+2);
    *  2. scan fraction: tables·probeCount/2^bits ≤ `targetFraction` bounds
    *     the expected fraction of the corpus that becomes a candidate per
    *     query (on hash-uniform signatures) — the property that makes LSH
    *     asymptotically beat brute force. The fixed 6-bit round-2 config
    *     probed 34% of signature space and was 3× SLOWER than brute force.
    *
    * Recall consequence (Charikar STOC 2002: per-bit flip prob = θ/π): a
    * pair at angle θ survives a table at Hamming ≤ d with prob
    * P[Binom(bits, θ/π) ≤ d] — still ≈1 for genuinely-near pairs (θ → 0)
    * at any bit width, but vanishing for unrelated pairs. High recall at
    * low scan fraction therefore REQUIRES corpus structure; on isotropic
    * random data recall ≈ scan fraction for every ANN method
    * (information-theoretic — see NOTES.md). CROSSOVER: below roughly
    * n ≲ 10·tables·probeCount rows the bucketing machinery costs more than
    * the ~n·q cosines it avoids — use bruteForceTopK/aggTopK there; LSH is
    * the ≥10⁶-row plan. */
  def adaptiveLshBits(n: Long, tables: Int = LshTables, probes: Int = LshProbes,
                      targetFraction: Double = 0.03): Int = {
    // target 0.03 on the uniform-signature estimate leaves headroom for
    // real corpora, whose signatures clump slightly (measured ~1.3× the
    // estimate on the isotropic fixture) — realized fractions stay ≤ 5%
    var b = math.max(8, (64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1))) + 2)
    while (b < 32 &&
      tables.toDouble * probeCount(b, probes) / math.pow(2.0, b) > targetFraction)
      b += 1
    b
  }

  /** Signature: bit j = sign(<v, h_j>) with Rademacher hyperplanes derived
    * from hashes of (table, bit, dim) — deterministic, no stored model.
    * Native codegen expression (graft.functions.LshSignature): the
    * signature stage scans the whole corpus, so it must not pay the UDF's
    * per-row encoder conversion or break the scan's codegen span. */
  private def lshSig(embCol: String, table: Int, bits: Int): Column =
    graft.functions.LshSignature.lsh_sig(col(embCol), table, bits)

  /** Candidate (q_id, n_id) pairs from signature-bucket collisions across
    * all tables — SLIM (ids only): the embeddings must not ride the
    * per-table union + distinct; they rejoin for the survivors. Exposed for
    * the candidate-fraction spec (sub-linearity is asserted, not assumed). */
  private[graft] def lshCandidates(corpus: DataFrame, qs: DataFrame,
                                   tables: Int, bits: Int, probes: Int): DataFrame = {
    val candParts = (0 until tables).map { t =>
      val cSig = corpus.select(col("n_id"), lshSig("n_emb", t, bits).as("sig"))
      val qSig = qs.select(col("q_id"), explode(
          graft.functions.VectorKernels.probeSigsUdf(
            lshSig("q_emb", t, bits), lit(bits), lit(probes))).as("sig"))
      cSig.join(broadcast(qSig), Seq("sig"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"))
    }
    candParts.reduce(_ unionByName _).dropDuplicates("q_id", "n_id")
  }

  /** LSH-bucketed ANN: per table, corpus and queries hash to a signature;
    * equality bucket join generates candidates; exact cosine reranks the
    * union of candidates over all tables. The QUERY side (small) explodes
    * into all buckets within Hamming ≤ LshProbes of its signature
    * (multi-probe, Lv et al. VLDB 2007) — recall rises steeply while the
    * corpus still hashes exactly once per table. Misses remain possible
    * (that's the approximation); candidate generation stays an equi-join,
    * so the plan is two narrow shuffles regardless of corpus size.
    * `bits` ≤ 0 → adaptive width from the corpus row count (one cheap
    * metadata-only count job); see adaptiveLshBits for the scan-fraction
    * math and the brute/LSH crossover. */
  def lshTopK(spark: SparkSession, dir: String, bits: Int = -1): DataFrame = {
    val corpus = corpusDf(spark, dir)
    val b = if (bits > 0) bits else adaptiveLshBits(corpusCount(spark, dir))
    rerankSlim(spark, dir,
      lshCandidates(corpus, queriesDf(spark, dir), LshTables, b, LshProbes))
  }

  /** Cost-based ANN entry point: below the brute/LSH crossover the
    * bucketing machinery (4 table scans of signature hashing + probe
    * explode + union + distinct) costs more than the ~n·q exact cosines
    * it avoids, so brute force is BOTH exact and faster — the planner
    * picks it. Above the crossover, adaptive-bit LSH scans a bounded
    * candidate fraction and wins asymptotically. The crossover
    * (~10·tables·probeCount rows) is derived from the scan-fraction
    * model in adaptiveLshBits and asserted in SimilaritySpec. */
  def annTopK(spark: SparkSession, dir: String,
              lshWins: Long => Boolean = lshWinsAt,
              graphWins: Long => Boolean = hnswWinsAt): DataFrame = {
    val n = corpusCount(spark, dir)
    // pass the derived bits down — lshTopK would otherwise re-count the
    // corpus (a second full metadata scan) to derive the same number.
    // `lshWins` / `graphWins` are injectable so the spec and the gates
    // can force EACH branch on the same corpus and assert they agree
    // where that branch's recall is 1.0. Graph outranks LSH when it
    // applies: above its floor the per-query work is n-independent.
    if (graphWins(n)) hnswTopK(spark, dir)
    else if (lshWins(n)) lshTopK(spark, dir, adaptiveLshBits(n))
    else bruteForceTopK(spark, dir)
  }

  /** The crossover predicate, exposed for the planner spec. */
  def lshWinsAt(n: Long): Boolean =
    n >= 10L * LshTables * probeCount(adaptiveLshBits(n), LshProbes)

  // ---------------------------------------------------------------------
  // Graph ANN (HNSW-style navigable layered graph)
  // ---------------------------------------------------------------------

  /** Graph geometry (VERDICT r16 #2 — the tier production vector search
    * actually serves from, Malkov & Yashunin, TPAMI 2020): a TWO-layer
    * navigable graph re-expressed for a distributed build —
    *
    *  - BASE layer: per-partition subgraphs. The corpus splits into
    *    id-range partitions of [[HnswPartWidth]] vectors; each vector
    *    keeps its [[HnswM]] nearest IN-PARTITION neighbors (exact
    *    within-partition scoring — the build is embarrassingly parallel,
    *    Σ partition² bounded by the width², the same Σ-block² discipline
    *    as SemDeDup; an iterative NSW insert would replace the exact
    *    block build at widths where width² hurts).
    *  - TOP layer: a deterministic uniform subsample (every
    *    [[hnswEntryPeriod]]-th vec_id — the seedless analog of HNSW's
    *    random level assignment; at most ~1k nodes at any corpus size,
    *    the exponentially-sparse upper layer).
    *
    * SEARCH is greedy frontier expansion with beam ef: score the query
    * against the top layer exactly (≤1k nodes, broadcast), keep the
    * [[HnswEf]] best as the beam, then [[HnswHops]] rounds of
    * "expand beam along base-layer edges → score → keep best ef".
    * Every scored node is a candidate for the shared exact rerank
    * ([[rerankSlim]]) — the same candidates-then-rerank contract as
    * IVF/LSH/PQ, so the recall measurement and the clustered gate slot
    * in unchanged.
    *
    * Recall 1.0 on the clustered corpus BY CONSTRUCTION: the entry
    * period (3) is coprime to the direction period (10), so every
    * direction has top-layer members, spaced 30 ids apart — closer than
    * the 50-id partition width, so every PARTITION of every direction
    * has a top-layer member; those members enter the beam (same-
    * direction cosine ≈ 0.999 vs ≈ 0.1 across), and one hop along
    * base edges reaches every same-direction vector in each partition
    * (a member's M=8 in-partition nearest include all 4 same-direction
    * mates). Candidates ⊇ the true top-k, and the exact rerank does the
    * rest — the gate pins this bitwise against the shared brute oracle. */
  val HnswM = 8
  val HnswEf = 16
  val HnswHops = 2
  val HnswPartWidth = 50L

  /** Top-layer sampling period: fixed 3 on small corpora (the coverage
    * argument above), growing with n so the entry layer stays ≤ ~1k
    * nodes — the upper layer of a billion-vector graph is ~10⁶-spaced. */
  def hnswEntryPeriod(n: Long): Long = math.max(3L, n / 1024L)

  /** The base-layer edge artifact (src, dst), trained once per corpus
    * and cached — build-once search-many, like the IVF quantizer and PQ
    * codebooks. */
  private[graft] def hnswIndex(spark: SparkSession, dir: String): DataFrame =
    graft.tools.ArtifactCache.parquet(spark, dir,
      s"hnsw_w${HnswPartWidth}_m$HnswM") { p =>
      val vecs = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val lo = vecs.agg(min(col("vec_id"))).head().getLong(0)
      buildHnswEdges(vecs, lo).write.mode("overwrite").parquet(p)
    }

  /** The per-partition top-M edge derivation — shared by the batch
    * build and the incremental touched-partition rebuild (`lo` anchors
    * the id-range partitioning so both derive the SAME partition of any
    * vector). */
  private def buildHnswEdges(vecs: DataFrame, lo: Long): DataFrame = {
    val parts = vecs.withColumn("part",
      expr(s"(vec_id - $lo) div $HnswPartWidth"))
    val a = parts.select(col("part"), col("vec_id").as("src"),
      col("embedding").as("src_emb"))
    val b = parts.select(col("part"), col("vec_id").as("dst"),
      col("embedding").as("dst_emb"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    a.join(b, Seq("part")).filter(col("src") =!= col("dst"))
      .withColumn("cos", Dedup.cosine("src_emb", "dst_emb"))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= HnswM)
      .select(col("src"), col("dst"))
  }

  /** Exact-score a slim (q_id, n_id) frame (the frontier scoring pass —
    * [[rerankSlim]] without the rank tail). */
  private def scoreSlim(spark: SparkSession, dir: String,
                        cands: DataFrame): DataFrame =
    cands.join(broadcast(queriesDf(spark, dir)), Seq("q_id"))
      .join(corpusDf(spark, dir), Seq("n_id"))
      .withColumn("cos", Dedup.cosine("q_emb", "n_emb"))
      .select(col("q_id"), col("n_id"), col("cos"))

  /** Every node the graph search SCORES for each query — entry layer
    * plus [[HnswHops]] frontier expansions. Slim (q_id, n_id); split
    * out so [[recallRows]] counts exactly the frame the query pays
    * for. */
  private[graft] def hnswCandidates(spark: SparkSession, dir: String): DataFrame =
    hnswCandidatesOver(spark, dir, hnswIndex(spark, dir))

  private def hnswCandidatesOver(spark: SparkSession, dir: String,
                                 edges: DataFrame): DataFrame = {
    val n = corpusDf(spark, dir).count()
    // entry layer × queries: 8 query ids broadcast against the ≤~1k-node
    // top layer — a bounded nested-loop, not a corpus cross join
    val entry = corpusDf(spark, dir)
      .filter(col("n_id") % hnswEntryPeriod(n) === 0)
      .select(col("n_id"))
      .join(broadcast(queriesDf(spark, dir).select(col("q_id"))), lit(true))
    var all = entry
    var beam = rankBeam(scoreSlim(spark, dir, entry))
    (1 to HnswHops).foreach { _ =>
      val frontier = beam.select(col("q_id"), col("n_id").as("src"))
        .join(edges, Seq("src"))
        .select(col("q_id"), col("dst").as("n_id"))
        .distinct()
      all = all.unionByName(frontier)
      beam = rankBeam(
          beam.unionByName(scoreSlim(spark, dir, frontier)).distinct())
    }
    all.distinct().filter(col("q_id") =!= col("n_id"))
  }

  /** Keep the best [[HnswEf]] scored nodes per query (the beam). */
  private def rankBeam(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id"))
    scored.withColumn("beam_rank", row_number().over(w))
      .filter(col("beam_rank") <= HnswEf)
      .select(col("q_id"), col("n_id"), col("cos"))
  }

  /** Graph-ANN top-k: greedy layered search, then the shared exact
    * rerank tail — same contract as every other tier. */
  def hnswTopK(spark: SparkSession, dir: String): DataFrame =
    rerankSlim(spark, dir, hnswCandidates(spark, dir))

  /** INCREMENTAL graph maintenance — the graph tier joins the other
    * tiers' ingest contract: history persists its edge artifact; a
    * delta batch must not rebuild the whole graph. Because base-layer
    * subgraphs are id-range partitions and edges never cross them, a
    * delta touches exactly the partitions its ids land in — history
    * edges in UNTOUCHED partitions are reused verbatim, and only the
    * touched partitions re-derive their top-M lists over (history ∪
    * delta) members. The merged edge set is therefore BITWISE equal to
    * a from-scratch rebuild (the equality-with-rebuild claim every
    * incremental tier gates), and the search layer is unchanged. The
    * touched-partition id collect is bounded by |delta|/width. At
    * 100 TB an id-tail append (the common ingest shape) touches one
    * partition per width of new data — ingest cost is
    * O(touched · width²), independent of corpus size. */
  private[graft] def hnswIndexIncremental(spark: SparkSession, dir: String,
                                          splitId: Long): DataFrame = {
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // corpus id floor: deterministic per corpus — the per-iteration
    // one-row aggregation job was pure dispatch overhead
    val lo: Long = graft.tools.ArtifactCache.memo[java.lang.Long](dir,
      "hnsw_vec_lo") {
      java.lang.Long.valueOf(vecs.agg(min(col("vec_id"))).head().getLong(0))
    }.longValue
    val histEdges = graft.tools.ArtifactCache.parquet(spark, dir,
      s"hnsw_hist_w${HnswPartWidth}_m${HnswM}_lt$splitId") { p =>
      buildHnswEdges(vecs.filter(col("vec_id") < splitId), lo)
        .write.mode("overwrite").parquet(p)
    }
    val touched = vecs.filter(col("vec_id") >= splitId)
      .select(expr(s"(vec_id - $lo) div $HnswPartWidth").as("part"))
      .distinct().collect().map(_.getLong(0)).toSet
    val rebuilt = buildHnswEdges(
      vecs.filter(expr(s"(vec_id - $lo) div $HnswPartWidth")
        .isin(touched.toSeq: _*)), lo)
    histEdges
      .filter(!expr(s"(src - $lo) div $HnswPartWidth")
        .isin(touched.toSeq: _*))
      .unionByName(rebuilt)
  }

  /** Graph-ANN top-k over the incrementally-maintained edge artifact.
    * The merged edge set is staged once per call: the delta ingest (the
    * gate's subject) stays timed every iteration, but the search's
    * [[HnswHops]] frontier joins read the materialized merge instead of
    * re-deriving the touched-partition rebuild per hop. */
  def hnswTopKIncr(spark: SparkSession, dir: String,
                   splitId: Long): DataFrame =
    rerankSlim(spark, dir,
      hnswCandidatesOver(spark, dir,
        hnswIndexIncremental(spark, dir, splitId).stage()))

  /** One micro-batch of STREAMING graph maintenance — the graph tier
    * joins the streaming matrix (batch r17a, incremental r17a; minhash/
    * simhash/embedding tiers set the axis). State is key-range-
    * partitioned ([[graft.tools.RangeState]], [[HnswPartWidth]]-wide):
    * `vectors` accretes arrivals per partition; `edges` holds, per
    * partition, the FULL rebuilt top-M subgraph of its latest touch —
    * REPLACEMENT semantics (edges are a pure function of a partition's
    * membership, so the latest rebuild supersedes all earlier ones; the
    * reader takes each partition's newest delta only, never a union).
    * Per batch: publish arrivals, re-derive subgraphs for exactly the
    * touched partitions over their accumulated vectors (a pruned
    * bucket read — untouched partitions are never listed, read, or
    * rewritten), publish the new subgraphs keyed by src partition.
    * Epoch-keyed overwrites derived from state < batchId: replay-
    * idempotent, the shared streaming contract. */
  private[graft] def hnswStreamApplyBatch(batch: DataFrame, batchId: Long,
                                          statePath: String,
                                          idSpan: Long = 200L): Unit = {
    val sp = batch.sparkSession
    val vecRoot = s"$statePath/vectors"
    val edgeRoot = s"$statePath/edges"
    graft.tools.RangeState.requireNoFuture(vecRoot, batchId)
    graft.tools.RangeState.requireNoFuture(edgeRoot, batchId)
    val parts = math.max(1, ((idSpan + HnswPartWidth - 1) / HnswPartWidth).toInt)
    val bounds = graft.tools.RangeState.freezeUniform(vecRoot, idSpan, parts)
    val arriving = batch.select(col("vec_id"), col("embedding")).stage()
    val touchedVec = graft.tools.RangeState.publishDelta(vecRoot, batchId,
      arriving, graft.tools.RangeState.bucketCol(bounds, col("vec_id")))
    // the touched partitions' accumulated vectors (a bounded collect:
    // ≤ |batch|/width partition ids)
    val (touchedVecs, _) = graft.tools.RangeState.readForKeys(sp, vecRoot,
      bounds, arriving, "vec_id", batchId)(arriving.limit(0))
    val edges = buildHnswEdges(touchedVecs, 0L)
    graft.tools.RangeState.publishDelta(edgeRoot, batchId, edges,
      graft.tools.RangeState.bucketCol(bounds, col("src")))
    graft.tools.RangeState.maintainTouched(sp, touchedVec, batchId, 4)(identity)
  }

  /** The edge reader's REPLACEMENT semantics: per partition, the newest
    * delta at or before `upTo` — never a union (each touch rebuilds its
    * partition's full subgraph). Kept off [[graft.tools.RangeState
    * .pathsAsOf]] on purpose: that reader folds append-logs. */
  private[graft] def hnswEdgePathsAsOf(edgeRoot: String,
                                       upTo: Long): Seq[String] =
    graft.tools.RangeState.partDirs(edgeRoot).flatMap { pd =>
      val vs = Option(new java.io.File(s"$pd/delta").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(f => (f.getName.drop(1).toLong, f.getAbsolutePath))
        .filter(_._1 <= upTo)
      if (vs.isEmpty) Nil else Seq(vs.maxBy(_._1)._2)
    }

  /** STREAMING graph-ANN through the HASH GATE on the clustered corpus:
    * five contiguous id-range batches (width 40 — deliberately
    * MISALIGNED with the 50-wide partitions, so epochs 1/2/3 each
    * re-touch a partition that earlier epochs already built and the
    * replacement semantics carry real weight), then search over the
    * maintained edge artifact. On this corpus graph search equals brute
    * force (the tier gate's claim), so the stream shares
    * [[clusteredBruteSql]]; the maintained-edges == rebuild equality is
    * spec-pinned bitwise. `dir` IS load-bearing here (it names the corpus
    * streamed and reranked); the registered gate lambda pins it to
    * [[clusteredCorpusDir]] — that pinning lives in the lambda, not in
    * this function (ADVICE r17 docstring fix). */
  def hnswTopKStream(spark: SparkSession, dir: String,
                     epochs: Int = 5): DataFrame =
    rerankSlim(spark, dir,
      hnswCandidatesOver(spark, dir, hnswStreamEdges(spark, dir, epochs)))

  /** The maintained edge set as-of the final epoch — the one replayed
    * build [[hnswTopKStream]] searches and the spec compares bitwise
    * with the rebuild. */
  private[graft] def hnswStreamEdges(spark: SparkSession, dir: String,
                                     epochs: Int = 5): DataFrame = {
    val base = StateCache.replay("sim_topk_hnsw_stream", Some(dir), epochs,
        StateCache.Range("vec_id"), None)(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))) {
      (b, k, st) => hnswStreamApplyBatch(b, k, st)
    }
    Tables.parquet(spark,
        hnswEdgePathsAsOf(s"$base/state/edges", epochs - 1L): _*)
      .stage()
  }

  /** Graph dispatch floor for [[annTopK]]: the graph tier wins once the
    * corpus is big enough that even LSH's bounded candidate FRACTION is
    * a large absolute scan (fraction·n ≫ the graph's ~ef·M·hops
    * per-query work, which is independent of n) AND the build-once
    * artifact amortizes. Far above every fixture, so the planner's
    * fixture gate still proves the exact-plan choice. */
  val HnswDispatchFloor = 1000000L
  def hnswWinsAt(n: Long): Boolean = n >= HnswDispatchFloor

  // ---------------------------------------------------------------------
  // Product quantization (PQ) ANN
  // ---------------------------------------------------------------------

  /** PQ geometry: 64-dim vectors → `PqM` subspaces of `PqSubDim` dims,
    * each quantized by a `PqK`-centroid codebook → one byte-sized code per
    * subspace. 256 B of floats become 8 codes + 1 stored norm — the ~32×
    * compression that lets a 100 TB embedding estate keep its ADC scan
    * structure in a few TB of codes (Jégou/Douze/Schmid, TPAMI 2011).
    * `PqRerank` exact-rerank candidates per query ≈ 5× K keeps the
    * exact-scan fraction small while the ADC pass stays linear over the
    * COMPRESSED codes. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16
  val PqIterations = 2
  val PqRerank = 24

  /** Per-subspace codebooks, trained once per corpus through the same
    * persisted-artifact path as the IVF index (train once, search many).
    * Deviation from classic L2 PQ, on purpose: the codebooks quantize
    * subvector DIRECTIONS (KMeans here is cosine-assignment) because this
    * engine's search metric is cosine; magnitude is carried exactly by
    * the stored per-vector norm instead of by the codes. Zero subvectors
    * (common when activity concentrates in few dims) have NO direction:
    * they are excluded from training by the trainer's zero-norm filter
    * and encode to the reserved sentinel code `PqK`, whose ADC entry is
    * exactly 0 — without the sentinel an inactive subvector would share
    * code 0 with genuinely-aligned vectors and a 1-centroid subspace
    * would stop discriminating at all (the debug case that motivated
    * this: every vector scored the same constant). Codebooks may come
    * back with < PqK centroids on distinct-poor corpora; the ADC table
    * pads to the fixed PqK+1 stride. */
  private[graft] def pqCodebooks(spark: SparkSession,
                                 dir: String): IndexedSeq[Array[Array[Double]]] =
    pqCodebooksOf(spark, dir, Tables.embeddings(spark, dir), "")

  /** Codebook trainer over an explicit training frame — the refresh
    * protocol trains the frozen arm on HISTORY ONLY and the drifted arm
    * on history ∪ delta; `tag` keeps the two artifact sets apart under
    * the same corpus dir. */
  private[graft] def pqCodebooksOf(spark: SparkSession, dir: String,
                                   train: DataFrame, tag: String)
      : IndexedSeq[Array[Array[Double]]] =
    // driver-side memo around the 8 collect jobs: the codebooks are a
    // kilobyte-scale index already session-cached as parquet — without
    // the memo every search iteration paid 8 read+orderBy+collect jobs
    // (~32 of sim_topk_pq's 44 jobs/iteration), each at the scheduler
    // dispatch floor, to re-materialize identical arrays
    graft.tools.ArtifactCache.memo(dir, s"pq_books_k${PqK}_i$PqIterations$tag") {
      (0 until PqM).map { m =>
        graft.tools.ArtifactCache.parquet(spark, dir,
          s"pq_m${m}_k${PqK}_i$PqIterations$tag") { p =>
          KMeans.saveIndex(KMeans.fit(spark,
            train.select(col("vec_id"),
              expr(s"slice(embedding, ${m * PqSubDim + 1}, $PqSubDim)")
                .as("embedding")),
            PqK, PqIterations), p)
        }.orderBy(col("cluster_id")).collect()
          .map(_.getSeq[Double](1).toArray)
      }
    }

  /** Encode the corpus: one map pass emitting the 8 codes + the exact
    * vector norm. No shuffle — at scale this runs once at ingest and the
    * codes table is the thing that persists. */
  private[graft] def pqEncode(corpus: DataFrame,
                              books: IndexedSeq[Array[Array[Double]]]): DataFrame = {
    val vecs = corpus.select(col("n_id"),
      col("n_emb").cast("array<double>").as("v"))
    val codeCols = (0 until PqM).map { m =>
      val sub = expr(s"slice(v, ${m * PqSubDim + 1}, $PqSubDim)")
      when(graft.functions.VectorKernels.normSqUdf(sub) === lit(0.0),
        lit(PqK)) // sentinel: inactive subspace, ADC contribution 0
        .otherwise(graft.functions.VectorKernels.nearestUdf(books(m))(sub)
          .getField("_1"))
    }
    vecs.select(col("n_id"), array(codeCols: _*).as("codes"),
      sqrt(graft.functions.VectorKernels.normSqUdf(col("v"))).as("n_norm"))
  }

  /** The PQ exact-rerank candidate frame: ADC (asymmetric distance
    * computation) scores every code row against each query's broadcast
    * 128-entry dot table — `element_at` chain over the codes, pure
    * codegen'd arithmetic, no UDF on the scan — then the bounded-heap
    * aggregator keeps `PqRerank` per query, so shuffle volume is
    * O(queries · PqRerank) regardless of corpus size. */
  private[graft] def pqCandidates(spark: SparkSession, dir: String): DataFrame =
    pqCandidatesWith(spark, dir, pqCodebooks(spark, dir), "")

  private[graft] def pqCandidatesWith(spark: SparkSession, dir: String,
      books: IndexedSeq[Array[Array[Double]]], tag: String): DataFrame = {
    // query rows are a deterministic slice of the immutable corpus — the
    // per-iteration collect was one more dispatch-floored job per search
    val qRows = graft.tools.ArtifactCache.memo(dir, "pq_query_rows") {
      queriesDf(spark, dir).collect()
    }
    val adcRows = qRows.map { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Float](1).map(_.toDouble).toArray
      // stride PqK+1: slot PqK of each subspace is the zero-subvector
      // sentinel's entry, pinned at 0.0
      val adc = Array.tabulate(PqM * (PqK + 1)) { idx =>
        val m = idx / (PqK + 1)
        val c = idx % (PqK + 1)
        if (c >= books(m).length || c == PqK) 0.0
        else {
          val cen = books(m)(c)
          var dot = 0.0
          var i = 0
          while (i < PqSubDim) { dot += q(m * PqSubDim + i) * cen(i); i += 1 }
          dot
        }
      }
      (qid, adc.toSeq)
    }
    import spark.implicits._
    val adcDf = adcRows.toSeq.toDF("q_id", "adc")
    // Rank by the RAW subspace-dot sum (ADVICE r10): cosine is invariant
    // in the corpus vector's norm, so the former /n_norm term only
    // biased candidate selection against large-norm vectors (the
    // principled per-subspace magnitude weights aren't stored — the
    // codes quantize directions). The exact rerank guarantees the
    // returned cosines either way; this improves candidate quality on
    // norm-heterogeneous corpora.
    val approx = (0 until PqM).map { m =>
      element_at(col("adc"), lit(m * (PqK + 1) + 1) + col("codes").getItem(m))
    }.reduce(_ + _)
    val topR = graft.functions.TopKAggregator.topkUdaf(PqRerank)
    // The PERSISTED codes table — pqEncode's own doc states the
    // production posture ("at scale this runs once at ingest and the
    // codes table is the thing that persists"): encode once per
    // (corpus, codebook set) through ArtifactCache, keyed by the same
    // tag that keys the codebooks, so every search iteration pays the
    // ADC scan over the COMPRESSED codes — the thing PQ exists to make
    // cheap — not a fresh UDF encode of the raw vectors. Build visible
    // as pq_codes<tag>.build.
    val codes = graft.tools.ArtifactCache.parquet(spark, dir,
      s"pq_codes$tag") { p =>
      pqEncode(corpusDf(spark, dir), books)
        .write.mode("overwrite").parquet(p)
    }
    codes
      .join(broadcast(adcDf), col("q_id") =!= col("n_id"))
      .withColumn("approx", approx)
      .groupBy(col("q_id"))
      .agg(topR(col("n_id"), col("approx")).as("top"))
      .select(col("q_id"), explode(col("top")).as("s"))
      .select(col("q_id"), col("s.n_id").as("n_id"))
  }

  /** PQ ANN: ADC candidate generation over the compressed codes, exact
    * cosine rerank of `PqRerank` candidates per query. Same output schema
    * and tie order as every other tier. Rows-only gate entry (ranking is
    * approximation-structure-specific); recall floors live on the
    * clustered corpus (spec + `pq_recall_clustered_bp` counter), and the
    * measured recall/fraction sit beside IVF/LSH in [[recallMetrics]]. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    rerankSlim(spark, dir, pqCandidates(spark, dir))

  /** DRIFT-TRIGGERED codebook refresh for the PQ tier (VERDICT r18 #5 —
    * the last frozen-trained ANN artifact without a monitored-refresh
    * protocol; IVF gained its arms in r17, the semantic quantizer in
    * r16): history (vec_id < splitId) owns the trained codebooks; the
    * delta ingest is scored by [[embDriftDims]] — quiet monitor → encode
    * and search the WHOLE corpus with the FROZEN history-trained
    * codebooks (encoding is map-side; new vectors just take their
    * nearest existing code — correct while the distribution holds); any
    * drifted dim → retrain codebooks on history ∪ delta before encoding
    * (frozen codes have NO cell for the new directions: every drifted
    * vector would collapse onto the sentinel/nearest-old code and ADC
    * would stop discriminating exactly where the delta lives). The
    * `branch` column puts the decision inside the hash gate — same
    * protocol, same oracle shapes as [[ivfTopKRefresh]]. */
  def pqTopKRefresh(spark: SparkSession, dir: String, splitId: Long,
                    thresholdMicro: Long = Dedup.DriftThresholdMicro)
      : DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val drifted = embDriftDims(
        embStatsOf(e.filter(col("vec_id") < splitId)),
        embStatsOf(e.filter(col("vec_id") >= splitId)),
        thresholdMicro)
      .limit(1).collect().nonEmpty
    val (books, branch, tag) =
      if (drifted)
        (pqCodebooksOf(spark, dir, e, "_refresh"), "refresh", "_refresh")
      else
        (pqCodebooksOf(spark, dir, e.filter(col("vec_id") < splitId),
          s"_hist_lt$splitId"), "frozen", s"_hist_lt$splitId")
    rerankSlim(spark, dir, pqCandidatesWith(spark, dir, books, tag))
      .withColumn("branch", lit(branch))
  }

  /** The refresh arm on the DRIFTED corpus: dims 60/61 shift past the
    * threshold, forcing the retrain branch; retrained codebooks give
    * the delta directions their own codes, history queries' top-k never
    * leave their planted direction (the delta is orthogonal to them up
    * to the tiny dim-63 jitter), so refresh search == brute over the
    * 270-vector corpus — the SAME oracle as the IVF refresh arm. */
  def pqRefreshClustered(spark: SparkSession, dir: String): DataFrame =
    pqTopKRefresh(spark, driftedCorpusDir(spark), splitId = 200)

  /** The NO-DRIFT arm on the standard clustered corpus split at 150:
    * the monitor is quiet, codebooks stay frozen on history (every
    * planted direction is already represented by vec_id < 150), and the
    * frozen encode/search path is exact — the gate pins that the
    * protocol adds nothing when quiet. */
  def pqRefreshNoDriftClustered(spark: SparkSession, dir: String): DataFrame =
    pqTopKRefresh(spark, clusteredCorpusDir(spark), splitId = 150)

  // ---------------------------------------------------------------------
  // Filtered ANN (metadata predicate + top-k)
  // ---------------------------------------------------------------------

  /** Predicate-passing fraction at or below which the planner
    * PRE-filters. Shared with the gate entries AND the oracle SQL so the
    * planner's regime on each gated corpus is pinned, not assumed. */
  val FilteredPreFraction = 0.2
  /** The fixture gate's predicate (label = [[FilteredLabel]]) — ~10–12 %
    * of every fixture corpus, safely below the crossover. */
  val FilteredLabel = 3
  /** The clustered post-filter gate's predicate: vec_id % [[FilteredMod]]
    * < [[FilteredKeep]] keeps HALF of every planted direction (10 of its
    * 20 vectors — still ≥ K same-direction neighbors per query), so the
    * true filtered top-k stay inside the query's own IVF cell and the
    * post-filter branch is exact on this corpus. */
  val FilteredMod = 20
  val FilteredKeep = 10

  /** Filtered vector search — top-k among corpus vectors passing a
    * metadata predicate, the planning problem every production vector
    * store documents (FAISS `IDSelector`; pre- vs post-filtering in
    * Milvus/Qdrant guides): a SELECTIVE predicate makes brute force over
    * the filtered subset the cheapest exact plan (PRE-filter — the
    * predicate and the column prune push to the parquet scan); an
    * UNSELECTIVE one keeps the trained IVF index useful (POST-filter —
    * probe as usual, drop candidates failing the predicate via a slim
    * id semi-join, exact-rerank the rest). Selectivity is measured, not
    * assumed: two column-pruned counts (row-group-stat cheap at scale).
    *
    * The post branch carries a K-GUARANTEE: a predicate can thin the
    * probed cells below k for some query, so under-filled queries are
    * recomputed exactly over the filtered corpus — a bounded corrective
    * pass (the under-filled id list is ≤ [[NumQueries]] rows by
    * construction; the routing counters record which regime ran).
    * `preWins` is injectable so specs and gates can force each branch
    * (the [[annTopK]] recipe); `selectivity` is injectable so the two
    * driver gates can keep the EXACT probe (the branch choice is part of
    * their oracles' determinism) while the default path pays the sampled
    * one (VERDICT r17 #5 — a planner probe must not cost two full
    * corpus scans before any real work). */
  def filteredTopK(spark: SparkSession, dir: String, pred: Column,
                   preWins: Double => Boolean = _ <= FilteredPreFraction,
                   selectivity: (DataFrame, Column) => Double =
                     sampledSelectivity)
      : DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    if (preWins(selectivity(emb, pred))) {
      graft.tools.RoutingMetrics.add("filtered_pre", 1L)
      filteredExact(spark, dir, pred)
    } else {
      graft.tools.RoutingMetrics.add("filtered_post", 1L)
      val passIds = emb.filter(pred).select(col("vec_id").as("n_id"))
      val ranked = rankTail(
        ivfCandidates(spark, dir, IvfNprobe, IvfCells, IvfIterations)
          .join(passIds, Seq("n_id"), "left_semi")
          .withColumn("cos", Dedup.cosine("q_emb", "n_emb")))
        .stage()
      // bounded collect: one row per UNDER-FILLED query, ≤ NumQueries
      val short = ranked.groupBy(col("q_id"))
        .agg(count(lit(1)).as("c")).filter(col("c") < K)
        .select(col("q_id"))
        .unionByName(queriesDf(spark, dir).select(col("q_id"))
          .join(ranked.select(col("q_id")).distinct(), Seq("q_id"),
            "left_anti")) // a query with ZERO surviving candidates
        .collect().map(_.getLong(0))
      graft.tools.RoutingMetrics.add("filtered_topup_queries",
        short.length.toLong)
      if (short.isEmpty) ranked
      else ranked.filter(!col("q_id").isin(short: _*))
        .unionByName(filteredExact(spark, dir, pred)
          .filter(col("q_id").isin(short: _*)))
        .orderBy(col("q_id"), col("rank"))
    }
  }

  /** Sampled-row floor below which [[sampledSelectivity]] falls back to
    * the exact count: a dozen sampled rows can misroute a near-crossover
    * predicate, and a corpus small enough to sample under this floor is
    * small enough to count exactly. */
  val SelectivityMinSample = 256L
  /** 1-in-SelectivitySampleMod deterministic hash sample. */
  val SelectivitySampleMod = 16

  /** DEFAULT selectivity probe — one aggregate over a deterministic
    * 1-in-[[SelectivitySampleMod]] `xxhash64(vec_id)` sample, counting
    * total and predicate-passing rows in the SAME pass (the former probe
    * paid two complete corpus scans before any search work — VERDICT r17
    * #5). The sample is a pure function of the id, so the estimate — and
    * therefore the branch choice — is reproducible run to run. Cost: one
    * scan of the two probe columns with a 1/16 aggregate; at 100 TB this
    * probe would come from persisted table statistics instead, and this
    * function is the seam where that swap lands. Corpora whose sample
    * comes back under [[SelectivityMinSample]] rows are counted exactly
    * (tiny corpus → the exact count is already probe-priced). */
  private[graft] def sampledSelectivity(emb: DataFrame, pred: Column): Double = {
    val s = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(SelectivitySampleMod)) === 0)
      .agg(count(lit(1)), count(when(pred, 1))).head()
    if (s.getLong(0) < SelectivityMinSample) exactSelectivity(emb, pred)
    else s.getLong(1).toDouble / s.getLong(0)
  }

  /** Exact passing fraction in ONE pass (conditional count, not two
    * scans) — the gated regimes keep this probe: which branch runs is
    * pinned by their oracles, so the measurement itself must be exact. */
  private[graft] def exactSelectivity(emb: DataFrame, pred: Column): Double = {
    val r = emb.agg(count(lit(1)), count(when(pred, 1))).head()
    r.getLong(1).toDouble / math.max(1L, r.getLong(0))
  }

  /** The exact plan over the predicate-passing corpus — the pre-filter
    * branch and the post branch's k-guarantee top-up. */
  private def filteredExact(spark: SparkSession, dir: String,
                            pred: Column): DataFrame =
    rankTail(Tables.embeddings(spark, dir).filter(pred)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .join(broadcast(queriesDf(spark, dir)), col("q_id") =!= col("n_id"))
      .withColumn("cos", Dedup.cosine("q_emb", "n_emb")))

  val filteredTopKSql: String = {
    val cos = Dedup.cosineSql("q.embedding", "n.embedding")
    s"""SELECT q_id, rank, n_id, cos FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $cos AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, n.vec_id) AS rank
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries AND n.label = $FilteredLabel) t
       |WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Oracle of the clustered post-filter gate: exact filtered brute
    * force over the synthesized corpus — the post branch must reproduce
    * it bitwise (its candidates cover the filtered top-k on this corpus;
    * see [[FilteredMod]]). */
  lazy val filteredPostClusteredSql: String = {
    val cos = Dedup.cosineSql("q.embedding", "n.embedding")
    s"""WITH emb AS (
       |  $clusteredEmbSql)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $cos AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, n.vec_id) AS rank
       |  FROM emb q JOIN emb n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries
       |    AND n.vec_id % $FilteredMod < $FilteredKeep) t
       |WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Brute-force top-k via the typed bounded-heap Aggregator instead of
    * rank-over-window: partial aggregation ships at most k rows per group
    * per map task, so shuffle volume is O(groups·k) — the plan that
    * survives a 100× corpus scale-up where the window variant's full sort
    * does not. Same exact results (same cosine, same ordering), same
    * oracle. */
  def aggTopK(spark: SparkSession, dir: String): DataFrame = {
    val topk = graft.functions.TopKAggregator.topkUdaf(K)
    val scored = corpusDf(spark, dir).join(broadcast(queriesDf(spark, dir)),
        col("q_id") =!= col("n_id"))
      .withColumn("cos", Dedup.cosine("q_emb", "n_emb"))
    scored
      .groupBy(col("q_id"))
      .agg(topk(col("n_id"), col("cos")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("s.n_id").as("n_id"), col("s.cos").as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Symmetric int8 quantization of the embedding column — the compression
    * step before an ANN index or a trainer ships vectors over the wire
    * (4× smaller than float32). Per-row compiled kernel (one pass computes
    * max|x|, scale, and the quantized array), so the corpus scan stays a
    * narrow map with no shuffle at all; at 100 TB this is embarrassingly
    * parallel and bounded by read bandwidth. floor-based so the result is
    * bit-identical to the SQL oracle (round ties differ between engines).
    * The quantized vector is emitted as a comma-joined string: the gate's
    * comparator sorts result cells and raw arrays aren't sortable keys —
    * the string form carries the identical information bit-for-bit. */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.VectorKernels.quantizeInt8Udf(col("embedding")).as("q"))
      .select(col("vec_id"), col("q._1").as("scale"),
        array_join(col("q._2").cast("array<string>"), ",").as("qvec"))
      .orderBy(col("vec_id"))

  val quantizeInt8Sql: String =
    """SELECT vec_id, scale,
      |  array_to_string(list_transform(embedding,
      |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale) AS BIGINT) AS VARCHAR)),
      |    ',') AS qvec
      |FROM (
      |  SELECT vec_id, embedding,
      |    CASE WHEN mab = 0 THEN 0.0 ELSE 127.0 / mab END AS scale
      |  FROM (
      |    SELECT vec_id, embedding,
      |      list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mab
      |    FROM embeddings))
      |ORDER BY vec_id""".stripMargin

  /** The projection's Rademacher sign matrix (16×64), derived once from
    * md5 so it is a CONSTANT of the library: both the Spark expression
    * and the oracle SQL embed the same ±1 literals, so no engine needs a
    * shared hash function at query time. */
  private[ops] lazy val projSigns: Array[Array[Int]] = {
    // literal 64 (= Dedup.Dim), NOT a read of another object's val: the
    // Dedup ⇄ Similarity objects reference each other during class init
    // (embeddingStreamClusteredSql ↔ clusteredEmbSql), and under
    // concurrent suite-triggered initialization a cross-object val read
    // inside this lazy body can observe Dedup's IN-PROGRESS default (0)
    // — the JVM breaks the <clinit> cycle instead of deadlocking, and
    // this matrix came back with empty rows (empty.reduceLeft in
    // project(), seen once in a full parallel suite run). A literal is
    // immune; FixturesSchemaSpec pins the embedding width to 64.
    Array.tabulate(16, 64) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"proj:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1 else -1
    }
  }

  /** Random-projection dimensionality reduction (Achlioptas, JCSS 2003:
    * ±1 entries preserve pairwise distances à la Johnson–Lindenstrauss):
    * 64-dim float embeddings → 16-dim doubles by a fixed Rademacher
    * matrix. This is the cheap pre-step that shrinks ANN candidate math
    * 4× — and unlike learned projections it needs no training pass.
    * Narrow map, no shuffle, codegen'd arithmetic; each output is the
    * same left-folded 64-term chain in Spark and the oracle, so the
    * doubles match bitwise. */
  def project(spark: SparkSession, dir: String): DataFrame = {
    val outCols = (0 until 16).map { j =>
      projSigns(j).zipWithIndex.map { case (s, i) =>
        col("embedding").getItem(i).cast("double") * lit(s.toDouble)
      }.reduceLeft(_ + _).as(s"p$j")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: outCols: _*)
      .orderBy(col("vec_id"))
  }

  val projectSql: String = {
    val terms = (0 until 16).map { j =>
      projSigns(j).zipWithIndex.map { case (s, i) =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * ${s.toDouble}"
      }.mkString("(", " + ", s") AS p$j")
    }.mkString(",\n  ")
    s"""SELECT vec_id,
       |  $terms
       |FROM embeddings
       |ORDER BY vec_id""".stripMargin
  }

  /** Driver-visible approximation quality (VERDICT r8 #6): measured
    * recall@K of the IVF and LSH tiers against the exact brute-force
    * ground truth ON THE GIVEN CORPUS, next to the candidate fraction
    * each tier actually scanned. Also recorded as RoutingMetrics
    * counters (basis points), so the bench artifact's `routing` map
    * carries the same numbers the verify dump does.
    *
    * Read the fixture numbers with NOTES.md §recall in hand: the fixture
    * embeddings are ISOTROPIC, where recall ≈ scan fraction for every ANN
    * method (information-theoretic) — low absolute recall there is the
    * corpus, not the index; the ≥0.9 floors live on the clustered-corpus
    * spec, which exercises THIS function on a corpus with structure.
    * The measurement is hash-deterministic end to end (quantizer,
    * signatures, tie order), so these are stable artifact values, not
    * samples. */
  def recallMetrics(spark: SparkSession, dir: String): DataFrame =
    recallCore(spark, dir, suffix = "")

  /** Shared measurement body for [[recallMetrics]] (fixture corpus) and
    * [[recallClustered]] (structured corpus): same functions, same IVF/LSH
    * parameter sets, only the counter names differ by `suffix` so both
    * regimes sit side by side in the bench artifact's routing map. */
  private def recallCore(spark: SparkSession, dir: String,
                         suffix: String): DataFrame =
    recallRows(spark, dir, suffix) match { case (sp, rows) =>
      import sp.implicits._
      rows.map { case (m, num, den, frac) =>
        (m, num.toDouble / math.max(1, den), frac) }
        .toDF("method", "recall", "cand_fraction")
        .orderBy(col("method"))
    }

  /** The measurement itself, returning EXACT integer recall counts per
    * tier: (method, |tier∩truth|, |truth|, candidate fraction). The
    * fixture entry derives its double `recall` from these; the clustered
    * gate ships the integers — hashable, so "recall 1.0 by construction
    * on the structured corpus" sits in the oracle, not a Scaladoc. */
  private def recallRows(spark: SparkSession, dir: String, suffix: String)
      : (SparkSession, Seq[(String, Long, Long, Double)]) = {
    // Ground truth is a deterministic function of the (immutable) corpus
    // → persisted through ArtifactCache: bench iterations pay the
    // brute-force scan once, then measure INDEX search only (ADVICE
    // r10 — the measurement used to rerun ground truth + each tier's
    // candidate pipeline twice per iteration).
    // driver-side memo (pathToken-keyed) around the per-iteration collect
    // of the persisted truth set and the corpus-count metadata job: both
    // are deterministic functions of the immutable corpus, and paying a
    // dispatch-floored job per iteration to re-materialize them measured
    // as pure overhead (guide §1.2 — remove redundant passes)
    val exact = graft.tools.ArtifactCache.memo(dir, "recall_ground_truth_set") {
      graft.tools.ArtifactCache.parquet(spark, dir,
        "recall_ground_truth") { p =>
        bruteForceTopK(spark, dir).select(col("q_id"), col("n_id"))
          .write.mode("overwrite").parquet(p)
      }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val den = exact.size.toLong
    val n: Long = corpusCount(spark, dir)
    // What brute force scores: each query scans the corpus minus itself
    // (the brute-force frame excludes self-pairs).
    val scans = (n - 1).toDouble * NumQueries
    // Each tier's SLIM (q_id, n_id) candidate frame is a deterministic
    // function of the immutable corpus, exactly like the ground truth →
    // persisted through ArtifactCache (VERDICT r17 #2: sim_recall_* were
    // the bench's most expensive entries because every iteration re-ran
    // all four tiers' candidate pipelines). The first call per data dir
    // builds and persists each frame (cost visible as a *.build phase);
    // later calls pay the bounded rerank + a metadata-cheap count only.
    // Rerank goes through rerankSlim for every tier — CosineSimilarity
    // casts per element to double, so scoring the rejoined float arrays
    // is bitwise the former in-line double-cast scoring (IVF's old path).
    def tierCands(kind: String)(build: => DataFrame): DataFrame =
      graft.tools.ArtifactCache.parquet(spark, dir, kind) { p =>
        build.select(col("q_id"), col("n_id"))
          .write.mode("overwrite").parquet(p)
      }
    // PQ's fraction is its EXACT-rerank scan share; the ADC pass itself
    // is linear but over 8-byte codes, not vectors — the compression is
    // the scale term, stated here so the artifact can't oversell it.
    // The graph tier's fraction counts every node the search scored
    // (entry layer + expanded frontiers) — the same the-query-paid-for-it
    // accounting as the other tiers' candidate frames.
    val tiers: Seq[(String, DataFrame)] = Seq(
      "ivf" -> tierCands("recall_cands_ivf")(
        ivfCandidates(spark, dir, IvfNprobe, IvfCells, IvfIterations)),
      "lsh" -> tierCands("recall_cands_lsh")(
        lshCandidates(corpusDf(spark, dir), queriesDf(spark, dir),
          LshTables, adaptiveLshBits(n), LshProbes)),
      "pq" -> tierCands("recall_cands_pq")(pqCandidates(spark, dir)),
      "hnsw" -> tierCands("recall_cands_hnsw")(hnswCandidates(spark, dir)))
    // The 4 candidate-frame counts fold into ONE action (a tagged union
    // of aggregates), and the 4 reranked top-k frames (≤ queries·k rows
    // each) into one more — the former 8 back-to-back driver actions
    // each paid the scheduler dispatch floor per bench iteration. Same
    // frames, same numbers; only the action count changes.
    val fracByTier = tiers.map { case (tag, cands) =>
        cands.agg(count(lit(1)).as("c")).select(lit(tag).as("t"), col("c"))
      }.reduce(_.unionByName(_)).collect()
      .map(r => r.getString(0) -> r.getLong(1) / scans).toMap
    val numByTier = tiers.map { case (tag, cands) =>
        rerankSlim(spark, dir, cands)
          .select(lit(tag).as("t"), col("q_id"), col("n_id"))
      }.reduce(_.unionByName(_)).collect()
      .groupBy(_.getString(0))
      .map { case (tag, rows) =>
        tag -> rows.map(r => (r.getLong(1), r.getLong(2)))
          .toSet.intersect(exact).size.toLong
      }
    def num(t: String) = numByTier.getOrElse(t, 0L) // empty rerank = 0 hits
    val (ivfNum, ivfFrac) = (num("ivf"), fracByTier("ivf"))
    val (lshNum, lshFrac) = (num("lsh"), fracByTier("lsh"))
    val (pqNum, pqFrac) = (num("pq"), fracByTier("pq"))
    val (hnswNum, hnswFrac) = (num("hnsw"), fracByTier("hnsw"))
    def bp(x: Double): Long = math.round(x * 10000)
    def rbp(num: Long): Long = bp(num.toDouble / math.max(1L, den))
    graft.tools.RoutingMetrics.add(s"ivf_recall${suffix}_bp", rbp(ivfNum))
    graft.tools.RoutingMetrics.add(s"ivf_cand_fraction${suffix}_bp", bp(ivfFrac))
    graft.tools.RoutingMetrics.add(s"lsh_recall${suffix}_bp", rbp(lshNum))
    graft.tools.RoutingMetrics.add(s"lsh_cand_fraction${suffix}_bp", bp(lshFrac))
    graft.tools.RoutingMetrics.add(s"pq_recall${suffix}_bp", rbp(pqNum))
    graft.tools.RoutingMetrics.add(s"pq_cand_fraction${suffix}_bp", bp(pqFrac))
    graft.tools.RoutingMetrics.add(s"hnsw_recall${suffix}_bp", rbp(hnswNum))
    graft.tools.RoutingMetrics.add(s"hnsw_cand_fraction${suffix}_bp", bp(hnswFrac))
    (spark, Seq(("hnsw", hnswNum, den, hnswFrac),
      ("ivf", ivfNum, den, ivfFrac), ("lsh", lshNum, den, lshFrac),
      ("pq", pqNum, den, pqFrac)))
  }

  /** Deterministic 10-direction-cluster corpus (200 vectors, 64-dim): the
    * structured regime where high ANN recall at low scan fraction is
    * achievable — real embedding corpora cluster; the isotropic fixture
    * does not (recall ≈ scan fraction there, information-theoretic; see
    * NOTES.md §recall). Shared by [[recallClustered]] and SimilaritySpec
    * so the driver-visible numbers and the spec floors measure the SAME
    * corpus. No randomness: geometry is a pure function of the index. */
  private[graft] def writeClusteredCorpus(spark: SparkSession, dir: String): Unit = {
    val rows = (0 until 200).map { i =>
      val c = i % 10
      val v = new Array[Float](64)
      // Every component is an exact binary fraction × a small integer
      // (2⁻⁵·k, k ≤ 5; 2⁻⁷·k, k ≤ 6), so float storage, double math, and
      // the DuckDB-side synthesis in [[clusteredEmbSql]] all hold the
      // SAME real number — the property that lets the clustered-regime
      // tier gates share a bitwise SQL oracle with no fixture file.
      v(c * 6) = 1.0f
      v(c * 6 + 1) = 0.03125f * (1 + i % 5) // jitter within the cluster
      v(63) = 0.0078125f * (i % 7)
      (i.toLong, v, c)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The clustered corpus as a SESSION-LIFETIME fixture dir (written
    * once, shutdown-hook-cleaned): a stable path keys ArtifactCache, so
    * the IVF quantizer and the 8 PQ codebooks train ONCE per session and
    * every later clustered query or bench iteration pays search only
    * (ADVICE r10 — the former per-invocation temp dir retrained ~15 s of
    * throwaway artifacts every iteration). */
  private val clusteredDirRef =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private[graft] def clusteredCorpusDir(spark: SparkSession): String = {
    val got = clusteredDirRef.get()
    if (got != null) got
    else clusteredDirRef.synchronized {
      val again = clusteredDirRef.get()
      if (again != null) again
      else {
        val d = graft.tools.TempDirs.createFastForJvm("graft-simclust")
        writeClusteredCorpus(spark, d)
        clusteredDirRef.set(d)
        d
      }
    }
  }

  /** The clustered corpus EXTENDED with a drifted delta — the regime for
    * the drift-triggered quantizer-refresh gate (VERDICT r16 #4): ids
    * 0..199 are [[writeClusteredCorpus]] verbatim (history — 10 planted
    * directions over dims 0..59); ids 200..269 are a delta along TWO NEW
    * directions (e60 / e61 by id parity, dim-63 jitter by id % 7 →
    * identity classes mod 14, five identical copies each) that NO
    * history-trained quantizer cell represents — the exact distribution
    * shift [[embStatsRaw]] exists to catch. Same exact-binary-fraction
    * discipline, so the oracle synthesizes it bitwise. */
  private[graft] def writeDriftedCorpus(spark: SparkSession, dir: String): Unit = {
    val rows = (0 until 270).map { i =>
      val v = new Array[Float](64)
      if (i < 200) {
        val c = i % 10
        v(c * 6) = 1.0f
        v(c * 6 + 1) = 0.03125f * (1 + i % 5)
      } else {
        v(60 + i % 2) = 1.0f
      }
      v(63) = 0.0078125f * (i % 7)
      (i.toLong, v, if (i < 200) i % 10 else 10 + i % 2)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private val driftedDirRef =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private[graft] def driftedCorpusDir(spark: SparkSession): String = {
    val got = driftedDirRef.get()
    if (got != null) got
    else driftedDirRef.synchronized {
      val again = driftedDirRef.get()
      if (again != null) again
      else {
        val d = graft.tools.TempDirs.createFastForJvm("graft-simdrift")
        writeDriftedCorpus(spark, d)
        driftedDirRef.set(d)
        d
      }
    }
  }

  /** DuckDB synthesis of the drifted corpus (see [[writeDriftedCorpus]];
    * CASE branches are ordered so the shared dim-63 jitter applies to
    * both regimes). */
  private[graft] val driftedEmbSql: String =
    """SELECT i AS vec_id,
      |    list_transform(range(0, 64), d -> CASE
      |      WHEN i < 200 AND d = (i % 10) * 6 THEN 1.0
      |      WHEN i < 200 AND d = (i % 10) * 6 + 1 THEN 0.03125 * (1 + i % 5)
      |      WHEN i >= 200 AND d = 60 + i % 2 THEN 1.0
      |      WHEN d = 63 THEN 0.0078125 * (i % 7)
      |      ELSE 0.0 END) AS embedding
      |  FROM range(0, 270) t(i)""".stripMargin

  /** The DECISION LAYER over two [[embStatsRaw]] reports (VERDICT r16
    * #4): dims whose mean shifted by more than `thresholdMicro`
    * (µ-units of the q = floor(x·10⁶) scale) between the two corpora.
    * Integer-exact RATIO form — the mean comparison
    * |s_d/n_d − s_h/n_h| > T is cross-multiplied to
    * |s_d·n_h − s_h·n_d| > T·n_h·n_d so no division ever happens; all
    * products run in DECIMAL(38,0) (|s| ≤ 10⁶·n, so the cross terms stay
    * exact past 10¹⁵ vectors per side). Inner join on dim: both reports
    * come from the same encoder width, so the dim sets coincide — a dim
    * present on one side only would mean comparing different encoders,
    * which is a caller error, not drift. The output is O(dims) rows;
    * consumers read it driver-side (bounded by construction). */
  def embDriftDims(hist: DataFrame, delta: DataFrame,
                   thresholdMicro: Long): DataFrame = {
    val h = hist.select(col("dim"), col("n").as("n_h"),
      col("sum_q").cast(Dec38).as("s_h"))
    val d = delta.select(col("dim"), col("n").as("n_d"),
      col("sum_q").cast(Dec38).as("s_d"))
    h.join(d, Seq("dim"))
      .filter(abs(col("s_d") * col("n_h") - col("s_h") * col("n_d")) >
        lit(thresholdMicro).cast(Dec38) * col("n_h") * col("n_d"))
      .select(col("dim"))
  }

  /** The clustered-corpus arm of the recall measurement, driver-visible
    * (VERDICT r9 #5): the fixture counters show the isotropic regime
    * (LSH recall ≈ its 3% scan fraction — information-theoretically
    * expected but it READS like a broken index); this query runs the same
    * recallCore on the synthesized clustered corpus, where both tiers
    * must clear the documented ≥0.9 floor, and exports
    * `ivf_recall_clustered_bp` / `lsh_recall_clustered_bp` (+ candidate
    * fractions) beside the fixture pair in the bench routing map. The
    * `dir` argument is unused by design: the measurement is about corpus
    * STRUCTURE, not fixture scale, and must be identical at every SF.
    *
    * HASH-GATED since r16 (VERDICT r15 #2): ships the exact integer
    * counts (tier, recall_num, recall_den). On this corpus every tier's
    * candidate set provably covers the true top-k — the same property
    * the `sim_topk_*_clustered` gates pin — so recall_num == recall_den
    * by construction, and the oracle synthesizes both as the brute-force
    * top-k row count. A banding/quantizer/rerank bug that drops a true
    * neighbor makes recall_num fall short and breaks the hash. The
    * candidate fractions stay bench-artifact counters (machine-free but
    * not SQL-expressible: they price Spark-side index geometry). */
  def recallClustered(spark: SparkSession, dir: String): DataFrame = {
    // Session-stable corpus dir: trained artifacts (IVF, PQ codebooks,
    // ground truth) persist across invocations — see clusteredCorpusDir.
    val (sp, rows) =
      recallRows(spark, clusteredCorpusDir(spark), suffix = "_clustered")
    import sp.implicits._
    rows.map { case (m, num, den, _) => (m, num, den) }
      .toDF("tier", "recall_num", "recall_den")
      .orderBy(col("tier"))
  }

  /** Oracle for [[recallClustered]]: the truth-set size is the brute
    * top-k row count over the synthesized corpus ([[clusteredBruteSql]]'s
    * CTE), and recall 1.0 on the structured corpus means num == den. */
  // lazy: interpolates clusteredEmbSql, declared LATER in this object —
  // eager init would embed "null" (object vals initialize in file order)
  lazy val recallClusteredSql: String =
    s"""WITH emb AS (
       |  $clusteredEmbSql),
       |gt AS (
       |  SELECT COUNT(*) AS cnt FROM (
       |    SELECT q.vec_id AS q_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${Dedup.cosineSql("q.embedding", "n.embedding")} DESC,
       |                 n.vec_id) AS rank
       |    FROM emb q JOIN emb n ON q.vec_id <> n.vec_id
       |    WHERE q.vec_id < $NumQueries) t
       |  WHERE rank <= $K)
       |SELECT t.tier, gt.cnt AS recall_num, gt.cnt AS recall_den
       |FROM (VALUES ('hnsw'), ('ivf'), ('lsh'), ('pq')) t(tier), gt
       |ORDER BY t.tier""".stripMargin

  /** DuckDB-side synthesis of the clustered corpus: the same 200 vectors
    * [[writeClusteredCorpus]] stores, generated in SQL (no fixture file
    * needed — the corpus is a pure function of the index, and every
    * component is an exact binary fraction × small integer, so the float
    * the Spark side stores and the double this synthesis computes are
    * the same real). `range(0,64)` position d ↔ 1-indexed embedding[d+1],
    * matching the cosine chain's indexing. */
  private[ops] val clusteredEmbSql: String =
    """SELECT i AS vec_id,
      |    list_transform(range(0, 64), d -> CASE
      |      WHEN d = (i % 10) * 6 THEN 1.0
      |      WHEN d = (i % 10) * 6 + 1 THEN 0.03125 * (1 + i % 5)
      |      WHEN d = 63 THEN 0.0078125 * (i % 7)
      |      ELSE 0.0 END) AS embedding
      |  FROM range(0, 200) t(i)""".stripMargin

  /** Exact top-k over the synthesized clustered corpus — the ONE oracle
    * all three clustered-regime tier gates share (VERDICT r10 #2,
    * precedent: q38 sharing q34's oracle): on this corpus each tier's
    * candidate set provably covers the true top-k (recall 1.0 — asserted
    * by SimilaritySpec's floors and pinned by these hashes), and the
    * exact rerank + shared tie order make the tier output IDENTICAL to
    * brute force. A hashing bug that drops a true neighbor (banding,
    * quantizer assignment, ADC table, sentinel handling) breaks these
    * gates bitwise — where the fixture-corpus tier entries are rows-only
    * by the §5.5 approximate-family contract. */
  val clusteredBruteSql: String = {
    val cos = Dedup.cosineSql("q.embedding", "n.embedding")
    s"""WITH emb AS (
       |  $clusteredEmbSql)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, $cos AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, n.vec_id) AS rank
       |  FROM emb q JOIN emb n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries) t
       |WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Embedding distribution stats (drift monitor)
  // ---------------------------------------------------------------------

  /** Per-dimension embedding distribution statistics — the DRIFT-MONITOR
    * primitive every production embedding pipeline runs beside ingest
    * (count / sum / sum-of-squares / min / max per dimension; mean and
    * variance derive downstream). A new encoder checkpoint, a corrupted
    * batch, or a domain shift all move these before they move anything
    * else. Integer-exact through the gate via the [[quantizeInt8]]
    * floor-scale trick: q = floor(x·10⁶) is the same IEEE double chain
    * in both engines, and every output is integer arithmetic on q.
    * The accumulators run in DECIMAL(38,0) internally (r15 verdict #1):
    * int64 sumsq wraps SILENTLY past ~9×10⁶ vectors per dimension at
    * |q| ≈ 10⁶ — exactly the failure a drift monitor must not have at
    * 10⁹ vectors. DECIMAL(38,0) holds ~10²⁵ such rows; the gated output
    * casts to BIGINT only because the fixture-scale oracle does (the
    * production surface is [[embStatsRaw]], which keeps the decimals).
    * One explode + ONE partial-aggregated exchange on the 64-row dim
    * key — the whole report is a single shuffle of O(dims) rows. */
  def embStats(spark: SparkSession, dir: String): DataFrame =
    embStatsGate(embStatsRaw(spark, dir)).orderBy(col("dim"))

  /** The production (overflow-proof) form: per-dim stats with sum_q /
    * sumsq_q as DECIMAL(38,0). The gated twin derives from this. */
  def embStatsRaw(spark: SparkSession, dir: String): DataFrame =
    embStatsOf(Tables.embeddings(spark, dir)).orderBy(col("dim"))

  /** Gate projection: BIGINT sums to match the DuckDB oracle's casts —
    * fixture-scale values fit; the internal accumulation stays DECIMAL
    * so scale-up moves only this final cast, never the math. */
  private def embStatsGate(df: DataFrame): DataFrame =
    df.select(col("dim"), col("n"),
      col("sum_q").cast("long").as("sum_q"),
      col("sumsq_q").cast("long").as("sumsq_q"),
      col("min_q"), col("max_q"))

  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  private[graft] def embStatsOf(embs: DataFrame): DataFrame =
    embs
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .withColumn("q",
        floor(col("x").cast("double") * lit(1000000.0)).cast("long"))
      // q is cast to DECIMAL(38,0) BEFORE the square so even a single
      // pathological |q| > 3×10⁹ row cannot wrap in the int64 product.
      .withColumn("qd", col("q").cast(Dec38))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("qd")).cast(Dec38).as("sum_q"),
        sum(col("qd") * col("qd")).cast(Dec38).as("sumsq_q"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"))

  val embStatsSql: String =
    """SELECT CAST(i - 1 AS INT) AS dim,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(q) AS BIGINT) AS sum_q,
      |  CAST(SUM(q * q) AS BIGINT) AS sumsq_q,
      |  CAST(MIN(q) AS BIGINT) AS min_q,
      |  CAST(MAX(q) AS BIGINT) AS max_q
      |FROM (
      |  SELECT i, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS q
      |  FROM (
      |    -- two unnests in one SELECT zip positionally (same length)
      |    SELECT unnest(generate_series(1, len(embedding))) AS i,
      |           unnest(embedding) AS x
      |    FROM embeddings))
      |GROUP BY i ORDER BY dim""".stripMargin

  /** One micro-batch of the STREAMING drift monitor: the five stats are
    * all commutative monoids (sum/sum/sum/min/max), so state is one
    * 64-row frame folded per epoch — the running report needs no corpus
    * re-scan and no revision machinery. Epoch-keyed overwrite derived
    * from the batch alone — replay rewrites identical files. */
  def embStatsStreamApplyBatch(batch: DataFrame, epoch: Long,
                               statePath: String,
                               compactEvery: Int = 4): Unit = {
    val sp = batch.sparkSession
    val tEpoch = System.nanoTime()
    graft.tools.LogState.requireNoFuture(s"$statePath/stats", epoch)
    embStatsOf(batch).write.mode("overwrite")
      .parquet(s"$statePath/stats/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/stats"), epoch,
      compactEvery)(embStatsFold)
    graft.tools.PhaseTiming.record(f"embstatepoch$epoch%03d",
      (System.nanoTime() - tEpoch) / 1e9)
  }

  /** The componentwise monoid fold readers and compaction share. The
    * decimal sums are re-cast to DECIMAL(38,0) so every compaction
    * generation writes the SAME schema (Spark's sum would otherwise cap
    * precision growth at 38 anyway, but the cast makes it a contract). */
  private[graft] def embStatsFold(df: DataFrame): DataFrame =
    df.groupBy(col("dim"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_q")).cast(Dec38).as("sum_q"),
        sum(col("sumsq_q")).cast(Dec38).as("sumsq_q"),
        min(col("min_q")).as("min_q"),
        max(col("max_q")).as("max_q"))

  /** The running drift report as of `upTo`; None before the first
    * batch. */
  def embStatsStreamReport(sp: SparkSession, statePath: String,
                           upTo: Long): Option[DataFrame] = {
    val root = s"$statePath/stats"
    val paths = graft.tools.LogState.pathsAsOf(root, upTo)
    if (paths.isEmpty) None
    else Some(embStatsFold(graft.tools.LogState.read(sp, root, paths)).orderBy(col("dim")))
  }

  /** STREAMING drift monitor through the HASH GATE: contiguous id-range
    * batches, folded stats must equal batch [[embStats]] — the SAME
    * oracle. A lost epoch, a double-published replay, or a fold that
    * sums a min breaks the hash. */
  def embStatsStream(spark: SparkSession, dir: String,
                     epochs: Int = 4): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-embstats")
    try {
      val statePath = s"$base/state"
      val all = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")).stage()
      val mm = all.agg(min(col("vec_id")), max(col("vec_id"))).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val width = (hi - lo) / epochs + 1
      (0 until epochs).foreach { k =>
        embStatsStreamApplyBatch(
          all.filter(expr(s"(vec_id - $lo) div $width") === k),
          k, statePath, compactEvery = 2)
      }
      embStatsGate(embStatsStreamReport(spark, statePath, epochs - 1L)
          .getOrElse(sys.error("emb stats stream: no state")))
        .stage()
        .orderBy(col("dim"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_recall_metrics" -> (recallMetrics _),
    "sim_recall_clustered" -> (recallClustered _),
    "emb_project"    -> (project _),
    "emb_quantize"   -> (quantizeInt8 _),
    "emb_stats"      -> (embStats _),
    "emb_stats_stream" -> ((s: SparkSession, d: String) => embStatsStream(s, d)),
    "sim_topk_brute" -> (bruteForceTopK _),
    "sim_topk_agg"   -> (aggTopK _),
    "sim_topk_ivf"   -> ((s: SparkSession, d: String) => ivfTopK(s, d)),
    "sim_topk_lsh"   -> ((s: SparkSession, d: String) => lshTopK(s, d)),
    "sim_topk_ann"   -> ((s: SparkSession, d: String) => annTopK(s, d)),
    "sim_topk_pq"    -> (pqTopK _),
    "sim_topk_hnsw"  -> ((s: SparkSession, d: String) => hnswTopK(s, d)),
    // The planner's ABOVE-crossover regime, driver-visible AND hash-gated
    // (r11 — formerly rows-only on the fixture corpus): force the LSH
    // branch via the injectable predicate ON THE CLUSTERED CORPUS, where
    // branch output provably equals brute force — so the planner's
    // branch-forcing wiring sits inside the same bitwise gate as the
    // tier itself.
    "sim_topk_ann_lsh" ->
      ((s: SparkSession, _: String) => annTopK(s, clusteredCorpusDir(s), _ => true)),
    // The clustered-regime tier gates: the PRODUCTION search paths
    // (trained IVF quantizer, adaptive-bit multi-probe LSH, PQ ADC +
    // bounded rerank — same parameters as the fixture entries) run on
    // the deterministic clustered corpus, where their output equals
    // brute force — hash-gated against clusteredBruteSql. `dir` is
    // ignored by design: the corpus is a pure function of the index and
    // identical at every SF, exactly like sim_recall_clustered.
    "sim_topk_ivf_clustered" ->
      ((s: SparkSession, _: String) => ivfTopK(s, clusteredCorpusDir(s))),
    "sim_topk_ivf_refresh_clustered" -> (ivfRefreshClustered _),
    "sim_topk_ivf_refresh_nodrift_clustered" -> (ivfRefreshNoDriftClustered _),
    "sim_topk_lsh_clustered" ->
      ((s: SparkSession, _: String) => lshTopK(s, clusteredCorpusDir(s))),
    "sim_topk_pq_clustered" ->
      ((s: SparkSession, _: String) => pqTopK(s, clusteredCorpusDir(s))),
    "sim_topk_pq_refresh_clustered" -> (pqRefreshClustered _),
    "sim_topk_pq_refresh_nodrift_clustered" -> (pqRefreshNoDriftClustered _),
    "sim_topk_hnsw_clustered" ->
      ((s: SparkSession, _: String) => hnswTopK(s, clusteredCorpusDir(s))),
    // incremental == rebuild: the id-tail delta (splitId 150) touches
    // only the last partition subgraph; the merged edge artifact is
    // bitwise the rebuild's, so search equals brute on this corpus
    "sim_topk_hnsw_incr_clustered" ->
      ((s: SparkSession, _: String) =>
        hnswTopKIncr(s, clusteredCorpusDir(s), splitId = 150)),
    // streaming maintenance: misaligned arrival epochs force partition
    // re-touches; search over the maintained graph equals brute here
    "sim_topk_hnsw_stream_clustered" ->
      ((s: SparkSession, _: String) => hnswTopKStream(s, clusteredCorpusDir(s))),
    // the planner's graph regime, forced on the clustered corpus (the
    // sim_topk_ann_lsh recipe): the dispatch wiring to the graph branch
    // sits inside the same bitwise gate as the tier
    "sim_topk_ann_hnsw" ->
      ((s: SparkSession, _: String) =>
        annTopK(s, clusteredCorpusDir(s), graphWins = _ => true)),
    // Filtered search, BOTH planner regimes driver-visible: the fixture
    // predicate (label = 3, ~11 %) sits below the crossover → measured
    // selectivity routes to the exact PRE-filter branch; the clustered
    // predicate keeps 50 % → POST-filter (IVF probe + semi-join +
    // k-guarantee), exact on that corpus by the FilteredMod geometry.
    // Both gates pin the EXACT selectivity probe: the branch each oracle
    // replays is part of its determinism. The default (sampled) probe's
    // branch agreement with the exact one is spec-pinned on both gated
    // corpora (SimilaritySpec).
    "sim_topk_filtered" ->
      ((s: SparkSession, d: String) =>
        filteredTopK(s, d, col("label") === FilteredLabel,
          selectivity = exactSelectivity)),
    "sim_topk_filtered_post_clustered" ->
      ((s: SparkSession, _: String) =>
        filteredTopK(s, clusteredCorpusDir(s),
          col("vec_id") % FilteredMod < FilteredKeep,
          selectivity = exactSelectivity)),
  )

  /** Brute force + aggregator variants are exact math → oracled; IVF/LSH
    * are approximation-structure-specific → rows-only. annTopK shares the
    * exact oracle because every fixture corpus sits below the brute/LSH
    * crossover, so the planner must return the exact plan's result —
    * the choice itself is what the gate checks. */
  val oracles: Map[String, String] = Map(
    "emb_project"    -> projectSql,
    "emb_quantize"   -> quantizeInt8Sql,
    "emb_stats"      -> embStatsSql,
    // streaming twin folds a per-epoch monoid — same oracle
    "emb_stats_stream" -> embStatsSql,
    "sim_topk_brute" -> bruteForceTopKSql,
    "sim_topk_agg"   -> bruteForceTopKSql,
    "sim_topk_ann"   -> bruteForceTopKSql,
    "sim_topk_ann_lsh"       -> clusteredBruteSql,
    "sim_topk_ivf_clustered" -> clusteredBruteSql,
    "sim_topk_ivf_refresh_clustered" -> ivfRefreshClusteredSql,
    "sim_topk_ivf_refresh_nodrift_clustered" -> ivfRefreshNoDriftSql,
    "sim_topk_lsh_clustered" -> clusteredBruteSql,
    "sim_topk_pq_clustered"  -> clusteredBruteSql,
    // the PQ refresh arms share the IVF protocol's oracles: refresh ==
    // brute over the drifted corpus + the forced branch literal; quiet
    // == brute over the clustered corpus + 'frozen'
    "sim_topk_pq_refresh_clustered" -> ivfRefreshClusteredSql,
    "sim_topk_pq_refresh_nodrift_clustered" -> ivfRefreshNoDriftSql,
    "sim_topk_hnsw_clustered" -> clusteredBruteSql,
    "sim_topk_hnsw_incr_clustered" -> clusteredBruteSql,
    "sim_topk_hnsw_stream_clustered" -> clusteredBruteSql,
    "sim_topk_ann_hnsw"      -> clusteredBruteSql,
    "sim_topk_filtered" -> filteredTopKSql,
    "sim_topk_filtered_post_clustered" -> filteredPostClusteredSql,
    // r16: the recall DECISION layer on the clustered corpus ships exact
    // integers (num == den == brute top-k row count by construction);
    // fixture sim_recall_metrics stays rows-only per §5.5.
    "sim_recall_clustered"   -> recallClusteredSql,
  )
}

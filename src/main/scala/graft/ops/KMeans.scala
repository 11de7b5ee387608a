package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorKernels
import graft.tools.ArtifactCache
import graft.tools.Stage._

/** Distributed k-means over the embedding corpus — the coarse quantizer a
  * real IVF index trains, expressed as pure DataFrame passes:
  *
  *  - init: deterministic k-means‖-style oversampling (Bahmani et al.,
  *    "Scalable k-means++", VLDB 2012) — O(initRounds) full scans TOTAL,
  *    independent of k, each sampling ~k·oversample candidates
  *    cost-proportionally; the k final centers are picked driver-side from
  *    the tiny weighted candidate pool;
  *  - assign: per-row argmax of cosine similarity against the centroid
  *    matrix carried as a plan literal (compiled kernel) — map-side only,
  *    ZERO shuffle;
  *  - update: per-cluster element-wise mean via posexplode + hash
  *    aggregation (partial aggregation map-side; shuffle volume is
  *    O(k·dim), independent of corpus size).
  *
  * The driver only ever holds centroids and candidates (≤ k·oversample·
  * initRounds rows of dim doubles), never corpus data. Every pass is
  * hash-deterministic — no RNG, so retries and re-runs are safe.
  */
object KMeans {

  private def asMatrix(rows: Seq[Seq[Double]]): Array[Array[Double]] =
    rows.map(_.toArray).toArray

  /** k-means‖ candidate pool: seed with the min-hash vector, then each
    * round samples ~l rows WITHOUT replacement, proportional to their
    * cost (1 − max cosine to any current candidate), via the
    * Efraimidis–Spirakis key u^(1/cost) — one TakeOrdered pass per round,
    * no global total needed. u is a hash-uniform in (0,1) derived from
    * (vec_id, round), so the sample is deterministic. Already-covered rows
    * have cost→0 ⇒ key→0 and are never re-drawn. */
  private def initCandidates(vecs: DataFrame, k: Int, oversample: Int,
                             initRounds: Int): Vector[Seq[Double]] = {
    val l = k * oversample
    var cands = Vector[Seq[Double]](
      vecs.withColumn("h", xxhash64(col("vec_id")))
        .orderBy(col("h"), col("vec_id")).limit(1)
        .select(col("v")).collect().head.getSeq[Double](0).toSeq)
    for (r <- 1 to initRounds) {
      val cost = lit(1.0) - VectorKernels.maxCosUdf(asMatrix(cands))(col("v"))
      // 53 uniform bits from xxhash64(vec_id, r); +0.5 keeps u strictly in (0,1)
      val u = (shiftrightunsigned(xxhash64(col("vec_id"), lit(r)), 11).cast("double")
        + lit(0.5)) / lit(9007199254740992.0)
      // ANSI mode: x/0 throws even for doubles — cost=0 rows (already
      // covered by a candidate) get key 0 explicitly, and the filter below
      // keeps them out of the pool even when fewer than l rows still carry
      // positive cost (limit alone would backfill with covered rows).
      // Degenerate rows get key 0 too: a zero-norm vector's max-cos is
      // NaN/-Inf (cost NaN/+Inf, both outside (0, 2]), and without the
      // guard its key would be pow(u, 0) = 1.0 — always winning the
      // sample despite never being assignable as a center.
      val key = when(cost <= lit(0.0) || cost > lit(2.0) || isnan(cost), lit(0.0))
        .otherwise(pow(u, lit(1.0) / cost))
      cands = cands ++ vecs
        .withColumn("es_key", key)
        .filter(col("es_key") > lit(0.0))
        .orderBy(col("es_key").desc, col("vec_id"))
        .limit(l)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq)
    }
    cands.distinct
  }

  /** Weight each candidate by how many corpus rows it is nearest to
    * (one map-side pass + an O(candidates) aggregation). */
  private def candidateWeights(vecs: DataFrame,
                               cands: Vector[Seq[Double]]): Array[Long] = {
    val counts = vecs
      .select(VectorKernels.nearestUdf(asMatrix(cands))(col("v"))
        .getField("_1").as("ci"))
      .groupBy(col("ci")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Array.tabulate(cands.size)(i => counts.getOrElse(i, 0L))
  }

  /** Pick k centers from the weighted candidate pool, driver-side:
    * weighted greedy k-center (heaviest first, then repeatedly the
    * candidate maximizing weight × cosine-distance-to-chosen). An
    * incrementally-maintained min-distance array (k-means++ style) makes
    * this O(pool·k·dim) total — the recompute-from-scratch form is
    * O(pool·k²·dim), which at IVF-production k (256–4096) is hours of
    * driver CPU. NaN cosines (degenerate candidates) count as distance 0,
    * so they are never preferentially chosen. */
  private[graft] def pickK(cands: Vector[Seq[Double]], weights: Array[Long],
                           k: Int): Vector[Seq[Double]] = {
    def distTo(a: Array[Double], b: Array[Double]): Double = {
      val c = VectorKernels.cosine(a, b)
      if (c.isNaN) 0.0 else math.max(1.0 - c, 0.0)
    }
    // one up-front conversion to primitive arrays: the inner loops below
    // must not pay per-element boxing (or O(i) List indexing)
    val ca = cands.map(_.toArray).toArray
    val n = cands.size
    val first = cands.indices.minBy(i => (-weights(i), i))
    val picked = Array.fill(n)(false)
    picked(first) = true
    val chosen = scala.collection.mutable.ArrayBuffer(first)
    val minDist = Array.tabulate(n)(i => distTo(ca(i), ca(first)))
    while (chosen.size < math.min(k, n)) {
      var bestI = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!picked(i)) {
          val s = weights(i) * minDist(i)
          if (s > bestScore) { bestScore = s; bestI = i }
        }
        i += 1
      }
      picked(bestI) = true
      chosen += bestI
      var j = 0
      while (j < n) {
        if (!picked(j)) {
          val d = distTo(ca(j), ca(bestI))
          if (d < minDist(j)) minDist(j) = d
        }
        j += 1
      }
    }
    chosen.map(cands).toVector
  }

  /** Train k centroids; returns (cluster_id, centroid: array<double>).
    * Job count: 1 seed + initRounds samples + 1 weighting + 2·iterations —
    * independent of k (the greedy farthest-point alternative is O(k)
    * sequential scans, unusable at IVF-scale k). If the corpus has fewer
    * than k distinct candidate vectors, fewer centroids are returned. */
  def fit(spark: SparkSession, corpus: DataFrame, k: Int, iterations: Int,
          oversample: Int = 4, initRounds: Int = 3): DataFrame = {
    import spark.implicits._
    // eager checkpoint: the trainer runs ~initRounds+iterations+2 jobs
    // over this frame — materializing it once keeps every subsequent job's
    // plan (and its analysis/codegen cost) trivial. Zero-norm vectors have
    // no direction in cosine space (every cosine NaN) and would poison the
    // init sampling — filtered out of the training corpus up front.
    val vecs = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .filter(VectorKernels.normSqUdf(col("v")) > lit(0.0))
      .stage()

    def timed[A](n: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      graft.tools.PhaseTiming.record(s"kmeans.$n", sec)
      if (sys.env.contains("GRAFT_FIT_TIMING")) println(f"FITPHASE $n $sec%.2f")
      r
    }
    val pool = timed("init")(initCandidates(vecs, k, oversample, initRounds))
    val w = timed("weights")(candidateWeights(vecs, pool))
    var centers = timed("pick")(pickK(pool, w, k))

    for (it <- 1 to iterations) timed(s"lloyd$it") {
      val updated = vecs
        .withColumn("ci", VectorKernels.nearestUdf(asMatrix(centers))(col("v"))
          .getField("_1"))
        .select(col("ci"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("ci"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("ci"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pairs"))
        .select(col("ci"), expr("transform(pairs, p -> p.m)").as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
      // empty clusters keep their previous centroid, so k stays constant
      centers = centers.indices.map(i => updated.getOrElse(i, centers(i))).toVector
    }
    timed("done")(())
    centers.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cluster_id", "centroid")
  }

  /** Persist a trained quantizer — (cluster_id, centroid) — as parquet.
    * The index is k rows of dim doubles: trivially small, but saving it is
    * what lets a 100 TB pipeline train ONCE and reuse the quantizer across
    * every subsequent query/ingest instead of re-scanning the corpus. */
  def saveIndex(centroids: DataFrame, path: String): Unit =
    // one file: the index is k rows of dim doubles — written unmerged it
    // landed as one near-empty file per partition, and every later read
    // paid a k-to-16-task scan job for kilobytes (guide §6: small files
    // hurt twice)
    centroids.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a quantizer persisted by saveIndex. */
  def loadIndex(spark: SparkSession, path: String): DataFrame =
    Tables.parquet(spark, path)

  /** A trained coarse quantizer held driver-side: cell ids in ascending
    * order and, row for row, their `dim`-wide centroids. Assignment
    * ([[assign]]) and IVF probe ranking ([[VectorKernels.probeCellsUdf]])
    * close over it, so both run map-side with no join against a
    * centroid frame and no collect of their own.
    *
    * A value from [[frozen]] is SHARED for the JVM lifetime (the
    * [[graft.tools.ArtifactCache.memo]] contract): never mutate `ids` or
    * a centroid row in place. */
  final case class Quantizer(ids: Array[Int], centroids: Array[Array[Double]])

  object Quantizer {
    /** Collect a (cluster_id, centroid) frame: one collect, sorted by
      * cluster_id on the driver — the frame is k rows, so a distributed
      * sort would only add its sample and shuffle jobs. */
    def of(centroids: DataFrame): Quantizer = {
      val rows = centroids.select(col("cluster_id"), col("centroid"))
        .collect().sortBy(_.getInt(0))
      Quantizer(rows.map(_.getInt(0)), rows.map(_.getSeq[Double](1).toArray))
    }
  }

  /** The frozen quantizer of a persisted index: the (key, kind) artifact
    * from [[graft.tools.ArtifactCache.parquet]] (trained by `train` and
    * saved through [[saveIndex]] on first use), collected once per JVM.
    *
    * This is the trained-artifact side of the caching line: the memo
    * holds the driver-side copy of an index that is already persisted
    * and never changes under its key, so re-collecting it per call only
    * bought the sort and collect jobs back. It is keyed exactly like the
    * parquet artifact — the same `key` directory (folded with its
    * `pathToken`, so a corpus rewritten in place re-trains and
    * re-collects) and a `kind` that must name every training parameter
    * (cells, iterations, split) — so different parameters never share a
    * matrix. Freshly fitted centroids (refresh retrains, stream state)
    * do not come through here: they go through [[Quantizer.of]] on
    * every call. */
  def frozen(spark: SparkSession, key: String, kind: String)
            (train: => DataFrame): Quantizer =
    ArtifactCache.memo(key, s"$kind.quantizer") {
      Quantizer.of(ArtifactCache.parquet(spark, key, kind)(saveIndex(train, _)))
    }

  /** Nearest-centroid assignment: a single map-side kernel pass over the
    * quantizer's matrix — no join, no window, no shuffle.
    * Output: (vec_id, v, cluster_id, sim). */
  def assign(vecs: DataFrame, q: Quantizer): DataFrame = {
    val nc = VectorKernels.nearestUdf(q.centroids)(col("v"))
    vecs
      .withColumn("nc", nc)
      .select(col("vec_id"), col("v"),
        element_at(typedLit(q.ids), col("nc").getField("_1") + 1).as("cluster_id"),
        col("nc").getField("_2").as("sim"))
  }

  /** [[assign]] over a freshly fitted or loaded centroid frame, collected
    * once for this call. */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    assign(vecs, Quantizer.of(centroids))

  /** Query surface: cluster sizes + intra-cluster mean similarity after a
    * short training run — deterministic but hash-family-specific
    * (rows-only check; KMeansSpec asserts the semantics). */
  def clusterStats(spark: SparkSession, dir: String, k: Int = 4,
                   iterations: Int = 2): DataFrame = {
    val corpus = Tables.embeddings(spark, dir)
    val centroids = fit(spark, corpus, k, iterations)
    val vecs = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    assign(vecs, centroids)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("sim")), 4).as("mean_sim"))
      .orderBy(col("cluster_id"))
  }

  /** k-means through the HASH GATE in the deterministic regime (VERDICT
    * r12 #5; the fixture entry stays rows-only): k = 10 on the clustered
    * corpus, where the FULL trainer (k-means‖ init → weighted greedy
    * pick → 2 Lloyd passes → assignment) must converge to the planted
    * 10-direction partition — cross-direction cosine ≈ 0, within ≈ 0.99,
    * so any init pool covering all directions yields one center per
    * direction and Lloyd's assignment equals `vec_id % 10` thereafter.
    * The gate emits each converged CENTROID component-by-component,
    * keyed by the centroid's argmax direction (canonical — the
    * hash-specific cluster_id pick order drops out), plus the cluster's
    * member count. Bitwise determinism: every corpus component is an
    * exact binary fraction × small integer, so the 20-member Lloyd sums
    * are EXACT in double (order-independent) and the single /20 rounding
    * is identical in both engines — a trainer bug that merges two
    * directions, loses a member, or mis-means a component breaks the
    * hash. `dir` unused (regime, not scale). */
  def kmeansClustered(spark: SparkSession, dir: String): DataFrame = {
    val cdir = Similarity.clusteredCorpusDir(spark)
    val corpus = Tables.embeddings(spark, cdir)
    val centroids = fit(spark, corpus, k = 10, iterations = 2)
    val vecs = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val sizes = assign(vecs, centroids)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    centroids.join(sizes, Seq("cluster_id"))
      .withColumn("direction",
        ((array_position(col("centroid"), array_max(col("centroid"))) - 1)
          / lit(6)).cast("long"))
      .select(col("direction"), col("n_members"),
        posexplode(col("centroid")).as(Seq("pos", "x")))
      .select(col("direction"), col("n_members"),
        col("pos").cast("long").as("pos"), col("x"))
      .orderBy(col("direction"), col("pos"))
  }

  val kmeansClusteredSql: String =
    s"""WITH emb AS (
       |  ${Similarity.clusteredEmbSql}),
       |m AS (SELECT vec_id % 10 AS direction, embedding FROM emb),
       |sizes AS (SELECT direction, COUNT(*) AS n_members
       |          FROM m GROUP BY direction),
       |cent AS (
       |  SELECT direction, CAST(d AS BIGINT) AS pos,
       |    AVG(embedding[d + 1]) AS x
       |  FROM m, unnest(range(0, 64)) AS t(d)
       |  GROUP BY direction, d)
       |SELECT direction, n_members, pos, x
       |FROM cent JOIN sizes USING (direction)
       |ORDER BY direction, pos""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kmeans_clusters" -> ((s: SparkSession, d: String) => clusterStats(s, d)),
    "kmeans_clustered_gate" -> (kmeansClustered _),
  )

  val oracles: Map[String, String] = Map(
    "kmeans_clustered_gate" -> kmeansClusteredSql,
  )
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tools.Stage._

/** Graph analytics over the near-duplicate document graph — the standard
  * web-corpus quality signal: a document's PageRank in the similarity
  * graph weights it for sampling/mixing decisions (highly-duplicated
  * boilerplate clusters concentrate rank; unique documents keep the
  * teleport floor).
  *
  * PageRank is THE canonical iterative Spark workload (join + aggregate
  * per superstep), so it doubles as coverage proof for iterative plans.
  * All arithmetic is FIXED-POINT INTEGER (rank in units of 1/SCALE of
  * total mass, integer division everywhere): every superstep is exactly
  * reproducible in ANSI SQL, which puts the whole 5-iteration computation
  * under the bitwise DuckDB oracle — no float summation order to worry
  * about (NOTES.md parity rules).
  *
  * Scale posture: each iteration is one equi-join (edges ⋈ ranks, both
  * hash-partitioned on the join key) and one partial-then-final SUM —
  * the same shuffle pattern at any corpus size. The edge list is built
  * once (shared ArtifactCache key with dedup_groups_jaccard) and
  * persisted; iteration count is fixed, so lineage stays shallow. The
  * only driver-side value is COUNT(nodes), a single long used for the
  * teleport constant.
  */
object Graph {

  /** Total rank mass in fixed-point units: ranks are BIGINTs in units of
    * 1/SCALE. Large enough that `rank div outdeg` truncation loses <1e-9
    * of relative mass per step; small enough that 85 * rank cannot
    * overflow a signed 64-bit (85 * 1e12 << 2^63). */
  val Scale = 1000000000000L

  /** Damping numerator/denominator: d = 85/100 as exact integers. */
  private val DampNum = 85L
  private val DampDen = 100L

  /** PageRank with fixed iteration count on an explicit directed edge
    * list. `nodes` must have column `node`; `edges` columns `src`,`dst`
    * (an undirected graph is passed as both directions). Update rule,
    * all in integer arithmetic (`div` = truncating division):
    *
    *   r0(v)   = Scale div n
    *   r_t(v)  = (15 * (Scale div n)) div 100
    *             + (85 * sum_{u->v} (r_{t-1}(u) div outdeg(u))) div 100
    *
    * Nodes with no inbound edges keep the teleport floor. Dangling mass
    * (nodes with no OUTBOUND edges) is dropped, not redistributed — the
    * standard simplification; total mass then decays slightly, which is
    * harmless for ranking and keeps every superstep a single join+agg. */
  def pagerankOnGraph(nodes: DataFrame, edges: DataFrame,
                      iters: Int = 5): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    pagerankOnDegreedEdges(nodes, edges.join(deg, Seq("src")), iters)
  }

  /** Superstep core over a pre-degreed edge list (`src`,`dst`,`outdeg`) —
    * split out so the degree frame can come from a train-once artifact
    * (pagerank below) instead of being rebuilt on every invocation.
    * `init` seeds the iteration: None = uniform (the from-scratch run);
    * Some(prev) = WARM START from a previous rank vector — the
    * incremental-refresh mechanism (nodes missing from `prev`, e.g.
    * documents that arrived with the delta, take the uniform base). */
  def pagerankOnDegreedEdges(nodes: DataFrame, degreedEdges: DataFrame,
                             iters: Int = 5,
                             init: Option[DataFrame] = None): DataFrame = {
    val withDeg = degreedEdges.persist()
    val n = nodes.count() // sizing constant only (KMeans k-row precedent)
    val base = Scale / n
    val teleport = (15L * base) / DampDen
    var ranks = init match {
      case Some(prev) => nodes.join(prev, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("rank"), lit(base)).as("rank"))
      case None => nodes.select(col("node"), lit(base).as("rank"))
    }
    for (_ <- 1 to iters) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($DampNum * coalesce(contrib, CAST(0 AS BIGINT))) div $DampDen"))
            .as("rank"))
    }
    // Materialize the final ranks before releasing the edge cache: the
    // returned frame's lineage still references withDeg, and repeated
    // invocations (bench warmup + iterations) must not accumulate cached
    // partitions across calls. localCheckpoint stores NON-REPLICATED
    // executor-local blocks — fine in single-JVM local mode (the sandbox
    // contract); a multi-executor cluster run would use reliable
    // checkpoint() (or tolerate recompute-on-loss) instead.
    val out = ranks.stage()
    withDeg.unpersist()
    out
  }

  /** Power iteration to an L1 CONVERGENCE bound instead of a fixed step
    * count: iterate until the total rank mass that moved in a superstep
    * is ≤ `tolMass` (fixed-point units) or `maxIters`. Returns (ranks,
    * supersteps used). The contraction argument is the standard one
    * (d = 0.85 per step on the L1 error): from a warm start whose error
    * is already small — the previous graph's ranks after a small edge
    * delta — convergence needs log_d(tol / initial_error) steps, which
    * is the incremental-refresh payoff GraphSpec and the probe measure
    * (refresh ≪ from-scratch supersteps at the same tolerance). Each
    * superstep pays one extra join+agg for the delta measurement. */
  def pagerankConverge(nodes: DataFrame, degreedEdges: DataFrame,
                       init: Option[DataFrame], tolMass: Long,
                       maxIters: Int = 50): (DataFrame, Int) = {
    val withDeg = degreedEdges.persist()
    val n = nodes.count()
    val base = Scale / n
    val teleport = (15L * base) / DampDen
    var ranks = (init match {
      case Some(prev) => nodes.join(prev, Seq("node"), "left")
        .select(col("node"), coalesce(col("rank"), lit(base)).as("rank"))
      case None => nodes.select(col("node"), lit(base).as("rank"))
    }).stage()
    var it = 0
    var moved = Long.MaxValue
    while (it < maxIters && moved > tolMass) {
      val contribs = withDeg
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      val next = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"($DampNum * coalesce(contrib, CAST(0 AS BIGINT))) div $DampDen"))
            .as("rank"))
        .stage()
      moved = next
        .join(ranks.select(col("node"), col("rank").as("prev")), Seq("node"))
        .agg(sum(abs(col("rank") - col("prev")))).head().getLong(0)
      ranks = next
      it += 1
    }
    withDeg.unpersist()
    (ranks, it)
  }

  /** PageRank of every document in the n-gram-Jaccard near-dup graph
    * (the ORACLED pair set of dedup_jaccard, cached under the same
    * artifact key as dedup_groups_jaccard), undirected. Isolated
    * documents surface with the teleport-floor rank.
    *
    * The degree-joined edge list is itself a train-once artifact
    * (`pagerank_edges`, built from the cached pair graph): repeated
    * invocations — bench iterations, downstream reuse — pay one parquet
    * read, not a per-call group-by + join rebuild. Phase timings split
    * edge setup from the supersteps so the bench shows which term
    * dominates. */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val t0 = System.nanoTime()
    val withDeg = graft.tools.ArtifactCache.parquet(spark, dir, "pagerank_edges") { p =>
      val pairs = graft.tools.ArtifactCache.parquet(spark, dir, "pairs_jaccard") {
        q => Dedup.ngramJaccardPairs(spark, dir).select(col("a_id"), col("b_id"))
          .write.mode("overwrite").parquet(q)
      }
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      edges.join(deg, Seq("src")).write.mode("overwrite").parquet(p)
    }
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    graft.tools.PhaseTiming.record("edge_setup", (System.nanoTime() - t0) / 1e9)
    val t1 = System.nanoTime()
    val ranks = pagerankOnDegreedEdges(nodes, withDeg, iters)
    graft.tools.PhaseTiming.record("supersteps", (System.nanoTime() - t1) / 1e9)
    ranks.select(col("node").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** Incremental rank refresh through the HASH GATE: a deterministic
    * edge DELTA (every pair with (a_id + b_id) ≡ 0 mod 37 is dropped —
    * ~3% of the graph) is applied, degrees are rebuilt from the
    * surviving pairs, and the rank WARM-STARTS from the full graph's
    * 5-step ranks for `refreshIters` = 2 supersteps. The oracle unrolls
    * all 7 steps (5 on the old graph + 2 on the new), so the gate pins
    * the REFRESH MECHANISM bitwise — warm-start wiring, new-degree
    * arithmetic, teleport floor — while GraphSpec separately proves the
    * convergence claim (refresh reaches the from-scratch fixed point in
    * far fewer supersteps). The previous ranks are a train-once artifact
    * (`pagerank_ranks5`): a production refresh reads yesterday's ranks,
    * it does not recompute them. */
  def pagerankIncr(spark: SparkSession, dir: String,
                   refreshIters: Int = 2): DataFrame = {
    val prev = graft.tools.ArtifactCache.parquet(spark, dir, "pagerank_ranks5") { p =>
      pagerank(spark, dir)
        .select(col("doc_id").as("node"), col("rank"))
        .write.mode("overwrite").parquet(p)
    }
    val pairs = graft.tools.ArtifactCache.parquet(spark, dir, "pairs_jaccard") {
      q => Dedup.ngramJaccardPairs(spark, dir).select(col("a_id"), col("b_id"))
        .write.mode("overwrite").parquet(q)
    }
    val t0 = System.nanoTime()
    val kept = pairs.filter(pmod(col("a_id") + col("b_id"), lit(37)) =!= 0)
    val edges = kept.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(kept.select(col("b_id").as("src"), col("a_id").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("node"))
    val ranks = pagerankOnDegreedEdges(nodes, edges.join(deg, Seq("src")),
      refreshIters, init = Some(prev))
    graft.tools.PhaseTiming.record("refresh_steps", (System.nanoTime() - t0) / 1e9)
    ranks.select(col("node").as("doc_id"), col("rank"))
      .orderBy(col("doc_id"))
  }

  /** Shared CTE text: jaccard pair graph (same as dedupGroupsJaccardSql),
    * degreed edge set `e` from CTE `pairsName`, and one unrolled
    * superstep parameterized by (edge CTE, prev CTE). DuckDB SUM(BIGINT)
    * is HUGEINT, so the per-step contribution sum is cast back (parity
    * rule). */
  private val graphBaseSql: String = {
    val tokensSql = graft.functions.TextKernels.tokensSql
    s"""toks AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket, doc_id,
       |         list_distinct($tokensSql) AS toks
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM toks a JOIN toks b
       |    ON a.lang = b.lang AND a.source = b.source
       |   AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.5)""".stripMargin
  }

  private def degreedEdgeSql(name: String, pairsName: String): String =
    s"""${name}_edges AS (SELECT a_id AS src, b_id AS dst FROM $pairsName
       |          UNION ALL SELECT b_id, a_id FROM $pairsName),
       |${name}_deg AS (SELECT src, COUNT(*) AS outdeg FROM ${name}_edges GROUP BY src),
       |$name AS (SELECT ${name}_edges.src, ${name}_edges.dst, ${name}_deg.outdeg
       |     FROM ${name}_edges JOIN ${name}_deg USING (src))""".stripMargin

  private def stepSql(out: String, prev: String, edgeCte: String): String =
    s"""$out AS (
       |  SELECT n.node,
       |    (15 * ($Scale // (SELECT cnt FROM params))) // $DampDen
       |      + ($DampNum * COALESCE(c.contrib, 0)) // $DampDen AS rank
       |  FROM n LEFT JOIN (
       |    SELECT $edgeCte.dst AS node,
       |           CAST(SUM($prev.rank // $edgeCte.outdeg) AS BIGINT) AS contrib
       |    FROM $edgeCte JOIN $prev ON $edgeCte.src = $prev.node
       |    GROUP BY $edgeCte.dst) c USING (node))""".stripMargin

  /** DuckDB twin of [[pagerank]]: five supersteps unrolled as chained
    * CTEs — fixed iteration count makes recursion unnecessary, and every
    * step is the identical integer expression Spark evaluates. */
  val pagerankSql: String =
    s"""WITH
       |$graphBaseSql,
       |${degreedEdgeSql("e", "pairs")},
       |n AS (SELECT doc_id AS node FROM documents),
       |params AS (SELECT COUNT(*) AS cnt FROM documents),
       |r0 AS (SELECT node, $Scale // (SELECT cnt FROM params) AS rank FROM n),
       |${(1 to 5).map(t => stepSql(s"r$t", s"r${t - 1}", "e")).mkString(",\n")}
       |SELECT node AS doc_id, rank FROM r5 ORDER BY doc_id""".stripMargin

  /** DuckDB twin of [[pagerankIncr]]: the 5 old-graph steps, the edge
    * delta, and the 2 warm-started new-graph steps, all unrolled. */
  val pagerankIncrSql: String =
    s"""WITH
       |$graphBaseSql,
       |pairs2 AS (SELECT a_id, b_id FROM pairs
       |           WHERE ((a_id + b_id) % 37 + 37) % 37 <> 0),
       |${degreedEdgeSql("e", "pairs")},
       |${degreedEdgeSql("e2", "pairs2")},
       |n AS (SELECT doc_id AS node FROM documents),
       |params AS (SELECT COUNT(*) AS cnt FROM documents),
       |r0 AS (SELECT node, $Scale // (SELECT cnt FROM params) AS rank FROM n),
       |${(1 to 5).map(t => stepSql(s"r$t", s"r${t - 1}", "e")).mkString(",\n")},
       |${Seq(stepSql("s1", "r5", "e2"), stepSql("s2", "s1", "e2")).mkString(",\n")}
       |SELECT node AS doc_id, rank FROM s2 ORDER BY doc_id""".stripMargin

  /** Triangle enumeration over the near-dup graph — the clustering-
    * coefficient / community-density primitive. Edges are stored
    * canonically (a < b), so each triangle a<b<c is produced exactly once
    * by the two equi-joins (wedge build + closing-edge check) — the
    * standard distributed triangle plan; at scale the joins hash-partition
    * on the wedge pivot and the canonical orientation caps the join fan-out
    * by in-bucket degree (the classic Cohen/MapReduce trick; heavy-hitter
    * nodes would additionally be degree-ordered, which canonical id order
    * approximates on this id-uniform graph). Shares the cached pair
    * artifact with pagerank/dedup_groups — the graph is built once. */
  /** The two-join wedge closure over canonical (a<b) edge frames — each
    * triangle a<b<c closes exactly once. Parameterized by position so the
    * incremental form can pin one position to the delta. */
  private def closeTriangles(eAB: DataFrame, eBC: DataFrame,
                             eAC: DataFrame): DataFrame =
    eAB.select(col("a_id").as("a"), col("b_id").as("b"))
      .join(eBC.select(col("a_id").as("b"), col("b_id").as("c")), Seq("b"))
      .join(eAC.select(col("a_id").as("a"), col("b_id").as("c")),
        Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))

  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.tools.ArtifactCache.parquet(spark, dir, "pairs_jaccard") {
      p => Dedup.ngramJaccardPairs(spark, dir).select(col("a_id"), col("b_id"))
        .write.mode("overwrite").parquet(p)
    }

  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(spark, dir)
    closeTriangles(pairs, pairs, pairs)
      .orderBy(col("a"), col("b"), col("c"))
  }

  /** INCREMENTAL triangle maintenance — the graph family's refresh path
    * beside [[pagerankIncr]]: yesterday's triangle set is a persisted
    * artifact over the old graph; an edge DELTA (the same ~3 % hash rule
    * the pagerank refresh uses, here as additions) contributes only the
    * triangles that TOUCH a delta edge — three wedge closures with the
    * delta pinned to one position each, so the recurring cost is
    * ∝ |delta| × degree, not corpus triangles. The union with the old
    * set is distinct-deduped (a triangle with 2–3 delta edges closes in
    * 2–3 positions). Result = the FULL graph's triangles — the SAME
    * oracle as graph_triangles; a missed position or a stale old set
    * breaks the hash. */
  def trianglesIncr(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardPairs(spark, dir)
    val deltaCond = pmod(col("a_id") + col("b_id"), lit(37L)) === 0L
    val delta = pairs.filter(deltaCond)
    val oldPairs = pairs.filter(!deltaCond)
    val oldTris = graft.tools.ArtifactCache.parquet(spark, dir,
      "tri_old_mod37") { p =>
      closeTriangles(oldPairs, oldPairs, oldPairs)
        .write.mode("overwrite").parquet(p)
    }
    val newTris = Seq(
      closeTriangles(delta, pairs, pairs),
      closeTriangles(pairs, delta, pairs),
      closeTriangles(pairs, pairs, delta))
      .reduce(_ unionByName _)
    oldTris.unionByName(newTris).distinct()
      .orderBy(col("a"), col("b"), col("c"))
  }

  /** DuckDB twin: the same canonical pair set (CTE text shared with the
    * pagerank oracle) closed with the same two joins. */
  val trianglesSql: String = {
    val tokensSql = graft.functions.TextKernels.tokensSql
    s"""WITH toks AS (
       |  SELECT lang, source, n_chars // 100 AS len_bucket, doc_id,
       |         list_distinct($tokensSql) AS toks
       |  FROM documents),
       |pairs AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM toks a JOIN toks b
       |    ON a.lang = b.lang AND a.source = b.source
       |   AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_filter(a.toks, t -> list_contains(b.toks, t))) AS DOUBLE) /
       |        CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.5)
       |SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
       |FROM pairs e1 JOIN pairs e2 ON e1.b_id = e2.a_id
       |JOIN pairs e3 ON e1.a_id = e3.a_id AND e2.b_id = e3.b_id
       |ORDER BY a, b, c""".stripMargin
  }

  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank"  -> ((s: SparkSession, d: String) => pagerank(s, d)),
    "graph_pagerank_incr" -> ((s: SparkSession, d: String) => pagerankIncr(s, d)),
    "graph_triangles" -> ((s: SparkSession, d: String) => triangles(s, d)),
    "graph_triangles_incr" -> ((s: SparkSession, d: String) => trianglesIncr(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "graph_pagerank"  -> pagerankSql,
    "graph_pagerank_incr" -> pagerankIncrSql,
    "graph_triangles" -> trianglesSql,
    // incremental form folds an old-graph artifact + delta-touching
    // wedges into the SAME full-graph answer
    "graph_triangles_incr" -> trianglesSql,
  )
}

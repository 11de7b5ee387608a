package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tools.Stage._

/** Product-analytics operators over the event stream — funnel conversion,
  * cohort retention, and Bloom-prefiltered semi joins. These are the
  * aggregation shapes every events warehouse runs daily; each is one or
  * two hash-partition shuffles keyed on `user_id` (the natural analytics
  * partition axis), so the plans hold at any event volume.
  */
object Analytics {

  /** Funnel conversion: per user, the earliest VIEW, then the earliest
    * click STRICTLY AFTER that view, then the earliest purchase strictly
    * after that click — true sequential matching, not the min-time
    * approximation (which misclassifies a user who clicks both before
    * and after their first view). Three window passes over the same
    * `user_id` hash partitioning — each step's anchor time is a plain
    * column by the time the next window consumes it — so the whole
    * funnel is still ONE shuffle, no joins, no per-step scans. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val perUser = Tables.events(spark, dir)
      .withColumn("t_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts") > col("t_view"),
          col("ts"))).over(w))
      .withColumn("t_buy",
        min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("t_view")).as("t_view"), max(col("t_click")).as("t_click"),
        max(col("t_buy")).as("t_buy"))
    perUser.agg(
      count(col("t_view")).as("n_view"),
      count(col("t_click")).as("n_view_click"),
      count(col("t_buy")).as("n_view_click_buy"))
  }

  val funnelSql: String =
    """SELECT COUNT(t_view) AS n_view,
      |  COUNT(t_click) AS n_view_click,
      |  COUNT(t_buy) AS n_view_click_buy
      |FROM (
      |  SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
      |    MAX(t_buy) AS t_buy
      |  FROM (
      |    SELECT user_id, t_view, t_click,
      |      MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
      |        OVER (PARTITION BY user_id) AS t_buy
      |    FROM (
      |      SELECT user_id, event_type, ts, t_view,
      |        MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
      |          OVER (PARTITION BY user_id) AS t_click
      |      FROM (
      |        SELECT user_id, event_type, ts,
      |          MIN(CASE WHEN event_type = 'view' THEN ts END)
      |            OVER (PARTITION BY user_id) AS t_view
      |        FROM events)))
      |  GROUP BY user_id)""".stripMargin

  /** Cohort retention: users are cohorted by the DAY of their first event;
    * each (cohort day, day offset) cell counts the distinct users of that
    * cohort active `offset` days later — the retention triangle. The
    * per-user first day is a WINDOW MIN over the user_id partitioning, not
    * a groupBy+self-join — the events table crosses the wire once, not
    * twice (r7: this halved the events shuffle volume and settled the
    * r6 drift). Distinct-user counts stay exact because (cohort, offset,
    * user) is deduped by the aggregation key, never by a global distinct. */
  def cohort(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        to_date(min(col("ts")).over(w)).as("cohort_day"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val cohortSql: String =
    """SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM (SELECT user_id, CAST(ts AS DATE) AS day FROM events) e
      |JOIN (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
      |      FROM events GROUP BY user_id) f USING (user_id)
      |GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Bloom-prefiltered semi join — the runtime-filter pattern for the
    * "big fact ⋈ selective dimension" shape: build a Bloom filter over
    * the dimension keys (distributed aggregate via Spark's public sketch
    * API), broadcast it, and drop non-matching fact rows BEFORE the
    * shuffle; the exact semi join then runs on the survivors. At 100 TB
    * the win is shuffle volume: the fact side sheds (1−selectivity) of
    * its rows for the cost of a scan-side bitmap test, and the false
    * positives (≤1%) are caught by the exact join. The result is
    * identical to the plain semi join — which is exactly what the oracle
    * checks. */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bf = urgent.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContain(k))
    Tables.lineitem(spark, dir)
      .filter(mightContain(col("l_orderkey")))     // cheap pre-shuffle prune
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  val bloomSemiJoinSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Incremental aggregate maintenance (materialized-view refresh): the
    * standing per-flag totals are NOT recomputed from scratch when a new
    * batch lands — the base partials (sum, count) merge with the delta
    * partials by addition, and only ratios (avg) are re-derived from the
    * merged state. This is the partial-aggregate algebra Spark's own
    * map-side combine uses, surfaced as an operator: at 100 TB the
    * refresh touches the delta + a k-row state table, not the fact
    * history. The oracle recomputes from the full table — equality IS
    * the correctness claim (merge(partials) == recompute(whole)).
    * The batch boundary derives from the data (orderkey mod 10) so both
    * sides are non-empty at every scale factor. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    def partial(df: DataFrame): DataFrame = df
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
    val li = Tables.lineitem(spark, dir)
    val base = partial(li.filter(col("l_orderkey") % 10 =!= 0))
    val delta = partial(li.filter(col("l_orderkey") % 10 === 0))
    base.unionByName(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_qty").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .withColumn("avg_qty", col("sum_qty") / col("n"))
      .orderBy(col("l_returnflag"))
  }

  val incrementalAggSql: String =
    """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Count-Min heavy hitters over the token stream: one distributed CMS
    * build (O(d·w) state per task, merged by addition), then the exact
    * top-10 tokens with their sketch estimates beside the true counts.
    * Rows-only in the gate (the sketch is hash-family-specific, like
    * minhash/simhash); the spec pins the CMS guarantees — every estimate
    * ≥ its true count, within εN, and two half-corpus sketches merged
    * equal the one-pass sketch EXACTLY (merge is vector addition). */
  def cmsHeavyHitters(spark: SparkSession, dir: String,
                      d: Int = 4, w: Int = 512): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.functions.TextKernels.tokens(col("text"))).as("token"))
    val cms = udaf(new graft.functions.CountMinAggregator(d, w), Encoders.STRING)
    // one-row scalar aggregate — driver-side by design (KMeans k-row precedent)
    val sk = toks.agg(cms(col("token")).as("sk"))
      .collect().head.getSeq[Long](0).toArray
    val est = udf((s: String) => graft.functions.CountMin.estimate(sk, d, w, s))
    toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token")).limit(10)
      .withColumn("est_n", est(col("token")))
      .orderBy(col("exact_n").desc, col("token"))
  }

  /** CMS heavy hitters through the HASH GATE in the deterministic
    * regime (the dedup `_clustered` move applied to a sketch): the
    * corpus is SYNTHESIZED identically on both sides — 60 tokens, ten
    * heavy (counts 600..609) and fifty light (counts 3..7) — so true
    * frequencies are closed-form SQL. The gated DECISION layer is the
    * heavy-hitter SET at support 500: Spark answers from the CMS
    * ESTIMATE (the sketch is load-bearing — `heavy` comes from
    * est ≥ 500, never the exact count), the oracle from the synthesized
    * truth. They must agree by construction: CMS only overestimates, so
    * every heavy token passes; a light token (own count ≤ 7) fails
    * unless EVERY one of the d=4 rows hashes it into ≥ 500 of colliding
    * mass, and total light mass is 250 < 500 − 7, so that needs a heavy
    * token colliding in all 4 rows — empirically false at the fixed
    * murmur seeds, and the hashes are deterministic, so the agreement
    * is permanent (checked; a hashing/merge/estimate bug that inflates
    * a cell or deflates a min breaks the hash). `exact_n` rides along
    * fully cross-checked, pinning the synthesized stream itself.
    * `dir` ignored by design (regime, not scale). */
  def cmsHeavyClustered(spark: SparkSession, dir: String,
                        d: Int = 4, w: Int = 512): DataFrame = {
    import org.apache.spark.sql.Encoders
    val toks = graft.Tables.sizedRange(spark, 0, 60)
      .select(col("id").as("j"),
        when(col("id") < 10, col("id") + 600)
          .otherwise(col("id") % 5 + 3).as("c"))
      .select(concat(lit("t"), col("j").cast("string")).as("token"),
        explode(expr("sequence(1, c)")).as("occ"))
      .drop("occ")
    val cms = udaf(new graft.functions.CountMinAggregator(d, w),
      Encoders.STRING)
    val sk = toks.agg(cms(col("token")).as("sk"))
      .collect().head.getSeq[Long](0).toArray
    val est = udf((s: String) =>
      graft.functions.CountMin.estimate(sk, d, w, s))
    toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .withColumn("heavy", est(col("token")) >= 500L)
      .select(col("token"), col("exact_n"), col("heavy"))
      .orderBy(col("token"))
  }

  val cmsHeavyClusteredSql: String =
    """SELECT 't' || CAST(j AS VARCHAR) AS token,
      |  CAST(c AS BIGINT) AS exact_n,
      |  c >= 500 AS heavy
      |FROM (SELECT j,
      |        CASE WHEN j < 10 THEN 600 + j ELSE j % 5 + 3 END AS c
      |      FROM generate_series(0, 59) AS t(j))
      |ORDER BY token""".stripMargin

  // ---------------------------------------------------------------------
  // Streaming CMS (sketch state under the LogState monoid fold)
  // ---------------------------------------------------------------------

  /** One micro-batch of STREAMING Count-Min maintenance (VERDICT r15
    * #5): a CMS is d·w counters merged by ADDITION, so sketch state is
    * the drift monitor's monoid-fold pattern verbatim — one `cells` log
    * of SPARSE (idx, n) counter deltas (only cells the batch touched;
    * a batch's delta is ≤ d × its distinct tokens, never d·w), fold =
    * groupBy-idx sum, compaction = the fold. The per-batch sketch build
    * itself is the same distributed [[graft.functions.CountMinAggregator]]
    * the batch operator uses (map-side partial merge, O(d·w) per task).
    * Epoch-keyed overwrite derived from the batch alone —
    * replay-idempotent. */
  /** Pin the sketch geometry beside the cells log: the (idx, n) deltas
    * are only meaningful under the (d, w) that hashed them — a reader
    * with a smaller sketch would index out of bounds, and a transposed
    * one would silently mis-fold. Written once (atomic), asserted by
    * every subsequent writer and reader. */
  private def pinCmsGeometry(statePath: String, d: Int, w: Int): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(statePath, "geometry")
    if (Files.exists(p)) {
      val Array(pd, pw) = Files.readString(p).trim.split("\t").map(_.toInt)
      require(pd == d && pw == w,
        s"CMS state at $statePath was written with geometry d=$pd w=$pw; " +
          s"refusing to touch it with d=$d w=$w")
    } else {
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(statePath, "geometry.tmp")
      Files.writeString(tmp, s"$d\t$w")
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def cmsStreamApplyBatch(toks: DataFrame, epoch: Long, statePath: String,
                          d: Int = 4, w: Int = 512,
                          compactEvery: Int = 4): Unit = {
    import org.apache.spark.sql.Encoders
    val sp = toks.sparkSession
    val tEpoch = System.nanoTime()
    pinCmsGeometry(statePath, d, w)
    graft.tools.LogState.requireNoFuture(s"$statePath/cells", epoch)
    val cms = udaf(new graft.functions.CountMinAggregator(d, w),
      Encoders.STRING)
    toks.agg(cms(col("token")).as("sk"))
      .select(posexplode(col("sk")).as(Seq("idx", "n")))
      .filter(col("n") =!= 0L)
      .write.mode("overwrite").parquet(s"$statePath/cells/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(s"$statePath/cells"), epoch,
      compactEvery)(_.groupBy(col("idx")).agg(sum(col("n")).as("n")))
    graft.tools.PhaseTiming.record(f"cmsepoch$epoch%03d",
      (System.nanoTime() - tEpoch) / 1e9)
  }

  /** The folded sketch as of `upTo` (dense d·w array, zero-filled);
    * None before the first batch. The collect is bounded by d·w cells
    * — sketch-sized, never corpus-sized. */
  def cmsStreamSketch(sp: SparkSession, statePath: String, upTo: Long,
                      d: Int = 4, w: Int = 512): Option[Array[Long]] = {
    val paths = graft.tools.LogState.pathsAsOf(s"$statePath/cells", upTo)
    if (paths.isEmpty) None
    else {
      pinCmsGeometry(statePath, d, w) // reject a (d,w) mismatch up front
      val sk = new Array[Long](d * w)
      graft.tools.LogState.read(sp, s"$statePath/cells", paths)
        .groupBy(col("idx")).agg(sum(col("n")).as("n"))
        .collect().foreach { r =>
          val idx = r.getInt(0)
          require(idx >= 0 && idx < d * w,
            s"CMS cell idx $idx outside pinned geometry d=$d w=$w")
          sk(idx) += r.getLong(1)
        }
      Some(sk)
    }
  }

  /** STREAMING CMS heavy hitters through the HASH GATE: the planted
    * 60-token corpus arrives in four occurrence-sliced batches
    * (occurrence index mod 4 — every token's mass is SPLIT across
    * epochs, so the gate exercises genuine cross-epoch addition, not
    * per-epoch sketches riding along); the folded streaming sketch
    * answers the same support-500 decision layer as
    * [[cmsHeavyClustered]], against the SAME closed-form oracle. The
    * sketch is load-bearing (`heavy` comes only from the folded
    * estimate); a lost epoch, a double-published replay, or a fold that
    * drops a cell moves an estimate across the 500 boundary (heavy
    * tokens sit at 600..609, far above the ≤250 total light mass — a
    * missing quarter of a heavy token's count is decisive) and breaks
    * the hash. `dir` ignored by design (regime, not scale). */
  def cmsHeavyStreamClustered(spark: SparkSession, dir: String,
                              d: Int = 4, w: Int = 512,
                              epochs: Int = 4): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-cmsstream")
    try {
      val statePath = s"$base/state"
      val toks = graft.Tables.sizedRange(spark, 0, 60)
        .select(col("id").as("j"),
          when(col("id") < 10, col("id") + 600)
            .otherwise(col("id") % 5 + 3).as("c"))
        .select(concat(lit("t"), col("j").cast("string")).as("token"),
          explode(expr("sequence(1, c)")).as("occ"))
        .stage()
      (0 until epochs).foreach { k =>
        cmsStreamApplyBatch(
          toks.filter(col("occ") % epochs === k).select(col("token")),
          k, statePath, d, w, compactEvery = 2)
      }
      val sk = cmsStreamSketch(spark, statePath, epochs - 1L, d, w)
        .getOrElse(sys.error("cms stream: no state"))
      val est = udf((s: String) =>
        graft.functions.CountMin.estimate(sk, d, w, s))
      toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
        .withColumn("heavy", est(col("token")) >= 500L)
        .select(col("token"), col("exact_n"), col("heavy"))
        .stage()
        .orderBy(col("token"))
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  /** Data profiling — the one-pass table health report (row counts,
    * null fractions, distinct cardinalities, ranges) every ingest job
    * emits before anything downstream trusts the batch. All stats ride a
    * single aggregation (count/countDistinct/min/max are algebraic or
    * two-phase), so profiling costs one scan at any scale; outputs stay
    * in their native types (no number→string casts, which render
    * differently across engines). */
  def profile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_types"),
      sum(col("value").isNull.cast("long")).as("null_values"),
      sum((col("props") === "{}").cast("long")).as("empty_props"),
      min(unix_micros(col("ts"))).as("ts_min_us"),
      max(unix_micros(col("ts"))).as("ts_max_us"),
      min(col("value")).as("value_min"),
      max(col("value")).as("value_max"),
      min(col("event_type")).as("type_first"),
      max(col("event_type")).as("type_last"))

  val profileSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_values,
      |  CAST(SUM(CASE WHEN props = '{}' THEN 1 ELSE 0 END) AS BIGINT) AS empty_props,
      |  epoch_us(MIN(ts)) AS ts_min_us,
      |  epoch_us(MAX(ts)) AS ts_max_us,
      |  MIN(value) AS value_min,
      |  MAX(value) AS value_max,
      |  MIN(event_type) AS type_first,
      |  MAX(event_type) AS type_last
      |FROM events""".stripMargin

  /** Approximate quantiles per group (Spark's GK-based percentile_approx
    * beside the exact percentile for the same cuts). The sketch is
    * MERGEABLE state: partial summaries combine across partitions — and
    * could be persisted and re-merged across days — so at 100 TB the
    * quantile costs one narrow pass where the exact percentile must
    * shuffle-sort each group. DuckDB's approx sketch is a different
    * implementation, so this is rows-only by the §5.5 contract; the
    * error bound vs exact is asserted in AnalyticsSpec (both columns
    * ride in the output precisely so the spec and a human can see the
    * sketch's error directly). */
  def q88ApproxQuantile(spark: SparkSession, dir: String): DataFrame = {
    val cuts = array(lit(0.5), lit(0.95), lit(0.99))
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), cuts, lit(10000)).as("approx"),
        expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("exact"))
      .select(col("event_type"),
        element_at(col("approx"), 1).as("p50_approx"),
        element_at(col("exact"), 1).as("p50_exact"),
        element_at(col("approx"), 2).as("p95_approx"),
        element_at(col("exact"), 2).as("p95_exact"),
        element_at(col("approx"), 3).as("p99_approx"),
        element_at(col("exact"), 3).as("p99_exact"))
      .orderBy(col("event_type"))
  }

  /** [[q88ApproxQuantile]]'s DECISION layer through the HASH GATE: the
    * GK sketch values are engine-specific (rows-only by §5.5), but the
    * published RANK guarantee is checkable — percentile_approx(...,
    * accuracy) returns an element whose rank is within ~n/accuracy of
    * the target. Spark verifies it directly: per group, the returned
    * value's rank interval [#(v < a)/n, #(v ≤ a)/n] (an interval
    * because of ties) must intersect q ± ε with ε = 2/accuracy (2×
    * headroom over the nominal bound; the check is deterministic at the
    * fixture, so green-once is green-forever). The oracle synthesizes
    * TRUE; `n_vals` rides fully cross-checked. A sketch merge/query bug
    * that drifts any cut past the bound flips a boolean and breaks the
    * hash. One broadcast of the 3·|groups| approx values — two scans,
    * no extra shuffle beyond the two aggregations. */
  def q88QuantileBound(spark: SparkSession, dir: String): DataFrame = {
    val cuts = array(lit(0.5), lit(0.95), lit(0.99))
    val acc = 10000
    val ap = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), cuts, lit(acc)).as("approx"))
      .select(col("event_type"),
        element_at(col("approx"), 1).as("a50"),
        element_at(col("approx"), 2).as("a95"),
        element_at(col("approx"), 3).as("a99"))
    val eps = 2.0 / acc
    def rankOk(q: Double, lt: org.apache.spark.sql.Column,
               le: org.apache.spark.sql.Column,
               n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lt / n <= q + eps && le / n >= q - eps
    def lt(a: String) =
      sum(when(col("value") < col(a), 1L).otherwise(0L))
    def le(a: String) =
      sum(when(col("value") <= col(a), 1L).otherwise(0L))
    Tables.events(spark, dir)
      .join(broadcast(ap), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(col("value")).as("n_vals"),
        lt("a50").as("lt50"), le("a50").as("le50"),
        lt("a95").as("lt95"), le("a95").as("le95"),
        lt("a99").as("lt99"), le("a99").as("le99"))
      .select(col("event_type"), col("n_vals"),
        rankOk(0.50, col("lt50"), col("le50"), col("n_vals")).as("p50_ok"),
        rankOk(0.95, col("lt95"), col("le95"), col("n_vals")).as("p95_ok"),
        rankOk(0.99, col("lt99"), col("le99"), col("n_vals")).as("p99_ok"))
      .orderBy(col("event_type"))
  }

  val q88QuantileBoundSql: String =
    """SELECT event_type, CAST(COUNT(value) AS BIGINT) AS n_vals,
      |  TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q81_profile"         -> (profile _),
    "q79_cms_topk"        -> ((s: SparkSession, d: String) => cmsHeavyHitters(s, d)),
    "q79_cms_heavy_clustered" -> ((s: SparkSession, d: String) => cmsHeavyClustered(s, d)),
    "q79_cms_heavy_stream_clustered" -> ((s: SparkSession, d: String) => cmsHeavyStreamClustered(s, d)),
    "q74_bloom_semi_join" -> (bloomSemiJoin _),
    "q75_funnel"          -> (funnel _),
    "q76_cohort"          -> (cohort _),
    "q78_incr_agg"        -> (incrementalAgg _),
    "q88_approx_quantile" -> (q88ApproxQuantile _),
    "q88_quantile_bound"  -> (q88QuantileBound _),
  )

  val oracles: Map[String, String] = Map(
    "q81_profile"         -> profileSql,
    "q79_cms_heavy_clustered" -> cmsHeavyClusteredSql,
    // streaming twin folds sparse counter deltas — same closed-form oracle
    "q79_cms_heavy_stream_clustered" -> cmsHeavyClusteredSql,
    "q74_bloom_semi_join" -> bloomSemiJoinSql,
    "q75_funnel"          -> funnelSql,
    "q76_cohort"          -> cohortSql,
    "q78_incr_agg"        -> incrementalAggSql,
    "q88_quantile_bound"  -> q88QuantileBoundSql,
  )
}

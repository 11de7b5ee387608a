package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.tools.Stage._

/** Scale-management utilities: skew-salted joins and bucketed co-located
  * joins — the two standard answers to "this shuffle is the bottleneck at
  * 100 TB" that AQE alone doesn't cover.
  */
object Scale {

  /** Skew-salted equi-join of a large, skewed left side against a smaller
    * right side.
    *
    * The hot key's rows all land on one reducer in a plain shuffle join;
    * salting splits each left key into `saltFactor` sub-keys (deterministic
    * per-row salt from a row hash — no RNG, so the plan is reproducible and
    * retry-safe) and replicates each right row to all sub-keys. Shuffle
    * skew drops by ~saltFactor at the cost of saltFactor× the (smaller)
    * right side — the classic trade. AQE's skew-join handles sort-merge
    * cases adaptively; explicit salting also covers hash joins and fixed
    * partitioning, and composes with bucketing.
    */
  /** Join types under which right-side replication is result-transparent:
    * an unmatched RIGHT row would be emitted once per salt under
    * right/full-outer, so those are rejected rather than silently wrong. */
  private val saltSafeJoinTypes =
    Set("inner", "left", "left_outer", "leftouter", "leftsemi", "left_semi",
      "leftanti", "left_anti")

  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFactor: Int, joinType: String = "inner"): DataFrame = {
    require(saltFactor > 0)
    require(saltSafeJoinTypes.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin replicates every right row $saltFactor times; " +
        s"'$joinType' would emit unmatched right rows once per salt — " +
        "only inner/left-family join types are salt-safe")
    val salted = left.withColumn("_salt",
      pmod(xxhash64(struct(left.columns.toIndexedSeq.map(col): _*)), lit(saltFactor)).cast("int"))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(saltFactor - 1)).cast("array<int>")))
    salted.join(replicated, Seq(key, "_salt"), joinType).drop("_salt")
  }

  /** Hot keys of `left` on `key`: keys whose estimated row count is AT
    * LEAST `hotRowThreshold` (the `>=` is load-bearing — q93's gate
    * threshold of 7 must catch orders with exactly 7 lineitems; do not
    * "fix" it to a strict inequality), detected from a seeded sample
    * (fraction 1.0 = exact
    * count — the deterministic choice for gates/tests; a 100 TB caller
    * samples ~1e-4). The result is small BY CONSTRUCTION: a key needs
    * ≥ threshold·fraction sampled rows to qualify, so at most
    * |sample| / (threshold·fraction) = |left| / threshold keys survive —
    * broadcastable whenever the threshold is meaningfully skew-sized.
    * localCheckpoint materializes the set once so the four semi/anti
    * consumers in targetedSaltedJoin don't recompute the aggregation. */
  private[graft] def detectHotKeys(left: DataFrame, key: String,
                                   hotRowThreshold: Long,
                                   sampleFraction: Double = 1.0): DataFrame = {
    require(hotRowThreshold > 0 && sampleFraction > 0 && sampleFraction <= 1.0)
    val sampled =
      if (sampleFraction >= 1.0) left.select(col(key))
      else left.select(col(key))
        .sample(withReplacement = false, sampleFraction, seed = 42L)
    sampled.groupBy(col(key)).count()
      .filter(col("count") >= math.max(1L,
        math.ceil(hotRowThreshold * sampleFraction).toLong))
      .select(col(key))
      .stage()
  }

  /** TARGETED skew salting: salt ONLY the keys that are actually hot.
    *
    * The blanket form above replicates the whole right side saltFactor× —
    * at 100 TB with a non-tiny dimension that 8× blow-up is paid for every
    * key, hot or not. This variant samples the left side, detects keys
    * above a row-count threshold, routes ONLY those through the salted
    * join, and unions with a plain join of the cold keys — so the
    * replication cost scales with the hot set (a handful of keys), not the
    * dimension. The hot-key set is broadcast into semi/anti splits of both
    * sides (never an IN-literal list — plan size stays O(1) in hot-key
    * count). Same join-type constraint as saltedJoin; the cold branch is a
    * plain join, so AQE still handles residual mild skew there.
    */
  def targetedSaltedJoin(left: DataFrame, right: DataFrame, key: String,
                         saltFactor: Int, hotRowThreshold: Long,
                         sampleFraction: Double = 1.0,
                         joinType: String = "inner"): DataFrame = {
    require(saltSafeJoinTypes.contains(joinType.toLowerCase.replace(" ", "")),
      s"targetedSaltedJoin: '$joinType' is not salt-safe (see saltedJoin)")
    val hot = broadcast(
      detectHotKeys(left, key, hotRowThreshold, sampleFraction))
    val hotJoin = saltedJoin(
      left.join(hot, Seq(key), "left_semi"),
      right.join(hot, Seq(key), "left_semi"),
      key, saltFactor, joinType)
    val coldJoin = left.join(hot, Seq(key), "left_anti")
      .join(right.join(hot, Seq(key), "left_anti"), Seq(key), joinType)
    hotJoin.unionByName(coldJoin)
  }

  /** Write both sides bucketed+sorted by the join key, then join the
    * bucketed tables: Spark plans a SortMergeJoin with NO Exchange on
    * either side — the co-located join. At 100 TB this converts the
    * biggest recurring fact-fact shuffle into a one-time layout cost that
    * every subsequent join amortizes. Returns the joined plan; callers
    * assert on `.queryExecution` (see ScaleSpec). */
  /** Drop a managed table AND its on-disk location: with the in-memory
    * session catalog, a warehouse dir that outlives the session (e.g. a
    * fresh Verify run over the same cwd) still holds the previous run's
    * table directory, which saveAsTable refuses to adopt
    * (LOCATION_ALREADY_EXISTS) — the catalog forgot it, the filesystem
    * didn't. Overwrite semantics here must mean both. */
  private def resetManagedTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val loc = new java.io.File(wh, name.toLowerCase(java.util.Locale.ROOT))
    if (loc.exists())
      graft.tools.TempDirs.deleteRecursively(loc.getAbsolutePath)
  }

  def bucketedJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
                   key: String, buckets: Int,
                   leftName: String, rightName: String): DataFrame = {
    resetManagedTable(spark, leftName)
    resetManagedTable(spark, rightName)
    left.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(leftName)
    right.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(rightName)
    spark.table(leftName).join(spark.table(rightName), key)
  }

  /** The salted join through the HASH GATE: fact (lineitem) salted-joined
    * to its dimension (orders) on the order key, then aggregated — the
    * oracle computes the PLAIN join, so the gate proves salting is
    * result-transparent (exact same rows, exact decimal revenue) while
    * ScaleSpec separately proves the skew actually spreads. This is the
    * skew-mitigation pattern a 100 TB fact join reaches for when one hot
    * key would otherwise pin a reducer. */
  def q86SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    saltedJoin(li, ord, "l_orderkey", saltFactor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q86Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** The TARGETED salted join through the HASH GATE, against the same
    * plain-join oracle as q86: hotRowThreshold=7 marks exactly the orders
    * with the maximum lineitem count as hot (a real, deterministic subset
    * at every SF — TPC-H caps lineitems per order at 7), so the salted
    * branch, the cold plain branch, AND the union seam are all exercised,
    * and the gate proves the routing is result-transparent. ScaleSpec
    * separately proves only hot keys pay the replication. */
  def q93TargetedSalt(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    targetedSaltedJoin(li, ord, "l_orderkey", saltFactor = 8,
        hotRowThreshold = 7L)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** The BUCKETED-TABLE round trip through the HASH GATE: both sides are
    * written bucketed+sorted on the join key, read back from the catalog,
    * joined, and aggregated — against the same plain-join oracle as q86,
    * so the gate proves the bucketed layout is content-transparent
    * end-to-end (write → catalog read → co-located join). ScaleSpec
    * separately plan-asserts the join runs with NO Exchange on either
    * side — the one-time layout cost that every subsequent fact-fact
    * join amortizes at 100 TB. Phase timings split the layout write from
    * the join so the bench shows the amortizable term. */
  def q94BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val ord = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    // The bucketed layout is the documented one-time, amortizable cost
    // (every subsequent fact-fact join on the key skips both exchanges);
    // it is a deterministic function of the corpus, so write it once per
    // JVM (the q99 recipe — StateCache keys the catalog tables' contents;
    // the returned dir itself is unused) and let iterations measure the
    // exchange-free catalog-read join the layout exists to serve. The
    // write cost stays visible as the q94_layout.build phase.
    graft.tools.StateCache.getOrBuild("q94_layout",
      s"$dir@${graft.tools.ArtifactCache.pathToken(dir)}|b8") { _ =>
      val t0 = System.nanoTime()
      bucketedJoin(spark, li, ord, "l_orderkey", buckets = 8,
        "graft_q94_lineitem", "graft_q94_orders")
      graft.tools.PhaseTiming.record("layout_write",
        (System.nanoTime() - t0) / 1e9)
    }
    spark.table("graft_q94_lineitem")
      .join(spark.table("graft_q94_orders"), "l_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** [[detectHotKeys]]'s exact regime through the HASH GATE: the skew
    * detector's DECISION (which keys are hot at a row threshold) is
    * plain SQL when the sample fraction is 1.0, so the routing layer
    * that q93 trusts gets its own oracle row. The sampled fast path
    * (fraction < 1, seeded) stays spec-only — an oracle cannot
    * reproduce Spark's sampler. */
  def q102HotKeys(spark: SparkSession, dir: String): DataFrame =
    detectHotKeys(graft.Tables.events(spark, dir), "user_id",
      hotRowThreshold = 40L)
      .orderBy(col("user_id"))

  val q102Sql: String =
    """SELECT user_id FROM events
      |GROUP BY user_id HAVING COUNT(*) >= 40
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q86_salted_join"   -> (q86SaltedJoin _),
    "q93_targeted_salt" -> (q93TargetedSalt _),
    "q94_bucketed_join" -> (q94BucketedJoin _),
    "q102_hot_keys"     -> (q102HotKeys _),
  )

  val oracles: Map[String, String] = Map(
    "q86_salted_join"   -> q86Sql,
    "q93_targeted_salt" -> q86Sql,
    "q94_bucketed_join" -> q86Sql,
    "q102_hot_keys"     -> q102Sql,
  )
}

package graft

/** Plan-shape regression tests: the optimizations the engine's Scaladoc
  * claims must actually appear in the physical plans — a refactor that
  * silently drops a pushdown or broadcast fails here, not in a benchmark
  * three rounds later. */
class PlanRegressionSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q2: filter and projection reach the parquet scan") {
    val p = plan("q2_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"))
    assert(p.contains("DataFilters: [isnotnull(l_discount"))
    // scan reads only the needed columns (4 output + filter column)
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("l_shipdate") && !scanLine.contains("l_tax"))
  }

  test("q1: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q3/q4: dimension joins broadcast") {
    assert(plan("q3_join_segment").contains("BroadcastHashJoin"))
    assert(plan("q4_join_nation").contains("BroadcastHashJoin"))
  }

  test("q5/q6: semi and anti joins plan as such (no join+distinct)") {
    assert(plan("q5_semi_join").contains("LeftSemi"))
    assert(plan("q6_anti_join").contains("LeftAnti"))
  }

  test("q7: global top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q7_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("cosine queries use the native codegen expression, not HOF folds") {
    val p = plan("sim_topk_brute")
    assert(p.contains("cosinesimilarity"))
    assert(!p.contains("aggregate(zip_with"))
  }

  test("mm_meta never reads the payload-bearing text column wastefully") {
    val p = plan("q17_distinct_agg")
    assert(p.contains("ReadSchema"))
  }

  test("q52: right outer join broadcasts the filtered (small) side") {
    val p = plan("q52_right_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH candidate generation stays an equi-join (no cartesian/BNLJ)") {
    val p = plan("sim_topk_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("jaccard blocked self-join is an equi-join on the block key") {
    val p = plan("dedup_jaccard")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("partition-column filter prunes partitions at the scan (q61 layout)") {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-prune").toString
    graft.Tables.documents(spark, sf)
      .write.mode("overwrite").partitionBy("lang").parquet(s"$base/docs")
    val p = spark.read.parquet(s"$base/docs")
      .filter(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      "lang filter did not reach PartitionFilters — scan reads all partitions")
    graft.tools.TempDirs.deleteRecursively(base)
  }

  test("q69: correlated EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan("q69_correlated_exists")
    assert(p.contains("LeftSemi"), "EXISTS should decorrelate to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS should decorrelate to an anti join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("content dedup shuffles on the md5 digest, never on the text body") {
    // the aggregating variants must show their one exchange keyed on the
    // digest; the incremental anti-join may legitimately broadcast the
    // small historical side at fixture scale (no exchange at all), but if
    // it shuffles, the key must be the digest
    for (name <- Seq("dedup_exact", "pipeline_shards")) {
      val p = plan(name)
      assert(p.contains("hashpartitioning(digest"),
        s"$name: expected the exchange to partition on the content digest")
    }
    for (name <- Seq("dedup_exact", "dedup_incremental", "pipeline_shards")) {
      val p = plan(name)
      assert(!p.contains("hashpartitioning(text"),
        s"$name: an exchange still carries the full text column as its key")
      assert(p.contains("digest"), s"$name: join/group key is not the digest")
    }
  }

  test("vocab pruning ranks via TakeOrderedAndProject, not a 1-partition window") {
    val p = plan("corpus_vocab_prune")
    assert(p.contains("TakeOrderedAndProject"),
      "top-K vocabulary selection should plan per-partition heaps")
    assert(!p.contains("Window [row_number"),
      "vocabulary ranking must not run through a single-partition Window")
  }

  test("q82: lateral top-N decorrelates — group-limited window, no cartesian") {
    val p = plan("q82_lateral")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "correlated LATERAL must decorrelate to an equi-join")
    assert(p.contains("WindowGroupLimit"),
      "per-group LIMIT should plan as a group-limited window, not a full rank")
  }

  test("q74: the bloom filter prunes the fact scan before the join") {
    val p = plan("q74_bloom_semi_join")
    val scanSide = p.linesIterator.dropWhile(!_.contains("LeftSemi")).toSeq
    assert(scanSide.exists(l => l.contains("Filter") && l.contains("UDF")),
      "bloom membership test must sit between the fact scan and the join")
  }

  test("q77: the Morton interleave runs inside whole-stage codegen") {
    val p = graft.SparkEntry.queries("q77_zorder")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("shiftright"), "interleave should be shift/mask expressions")
    assert(!p.contains("BatchEvalPython") && !p.contains("CodegenFallback"))
  }

  test("minhash/simhash band shuffles are slim: no band exchange carries arrays") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // The candidate-generation (band-keyed) shuffles must carry only
    // (doc_id, band, band key): the wide shingle/signature arrays rejoin
    // after banding, for survivors only. Mirrors the digest assertion
    // above — the claim is in the Scaladoc, so it is pinned here.
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case o                        => o.children
      }
      (p match { case e: ShuffleExchangeLike => Seq(e); case _ => Nil }) ++
        kids.flatMap(exchanges)
    }
    val wide = Set("sig", "shingles", "a_sh", "b_sh", "toks")
    for (name <- Seq("dedup_minhash", "dedup_simhash")) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val banded = exchanges(plan)
        .filter(_.outputPartitioning.toString.contains("band"))
      assert(banded.nonEmpty, s"$name: expected a band-keyed exchange")
      val offenders = banded
        .flatMap(_.output.map(_.name).filter(wide.contains)).distinct
      assert(offenders.isEmpty,
        s"$name: band exchange carries wide array columns: $offenders")
    }
  }

  test("bm25: the candidate-postings -> doc-length join stays a sort-merge " +
      "join (the merge hint versus Catalyst's fixture-true scale-false " +
      "broadcast estimate)") {
    val p = plan("text_bm25")
    assert(p.contains("SortMergeJoin"),
      "doc-length join must be SMJ — a broadcast of the candidate " +
        "postings is corpus-sized at scale")
    // the intended small-side broadcasts stay: query terms + stats + topk
    assert(p.contains("BroadcastHashJoin"))
  }

  test("substring dedup: gram digests come from a narrow per-doc map — " +
      "no shuffle before the digest-pair aggregation, no gram strings on " +
      "any exchange") {
    val p = plan("dedup_substring")
    // the rolling kernel replaced the windowed gram build: the ONLY
    // collect_list left in the plan is the coverage-rebuild tail's
    // ordered token rejoin — no collect_list window may feed a digest
    assert(!p.contains("collect_list(tok") || !p.contains("windowspecdefinition(doc_id#"),
      "gram build must not be a windowed collect_list over tokens")
    // digests are produced by the per-doc kernel UDF, not xxhash64/md5
    // over a materialized gram string
    assert(!p.contains("xxhash64(gram") && !p.contains("md5(gram"),
      "gram strings must not be materialized in the digest path")
    assert(p.contains("pythonUDF") || p.contains("ScalaUDF") || p.contains("BatchEvalPython") || p.toLowerCase.contains("udf"),
      "the rolling-digest kernel must appear in the plan")
  }

  test("q70: unpivot adds no shuffle beyond the aggregation") {
    val p = plan("q70_unpivot")
    // one exchange for the groupBy, one for the final deterministic sort -
    // the wide-to-long expand itself must not repartition
    assert(p.linesIterator.count(_.trim.startsWith("Exchange")) <= 2)
  }

  test("q40: global row numbering is bucket-parallel — no unpartitioned " +
      "window over the table (the r12 scale-killer)") {
    val p = plan("q40_row_ids")
    // every window in the plan must carry a partition spec: the Window
    // node's spec string lists partition columns before the order spec —
    // an unpartitioned window renders as 'windowspecdefinition(ord...'
    // with no partition expressions, and WindowExec warns 'No Partition
    // Defined'. The bucket column keeps numbering parallel.
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("windowspecdefinition(b#") ||
        l.contains("partitionBy") || l.contains("windowspecdefinition(b"),
        s"q40 window must partition by the bucket column: $l")
    }
    assert(p.contains("row_number"), "row numbering must still be a window")
  }

  test("NO query plans an unpartitioned window (fleet-wide single-task " +
      "window ban — q40 and bm25's qt were the last two)") {
    // a windowspecdefinition whose FIRST argument is an order spec
    // (col ASC/DESC) has an empty partition list → WindowExec moves the
    // input to one task. Every window in every plan must lead with
    // partition columns. Plans are built at sf0.001 (shape, not scale).
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = try {
          fn(spark, "/root/testdata/sf0.001")
            .queryExecution.executedPlan.toString
        } catch { case _: Throwable => "" } // crash = another spec's job
        p.linesIterator.flatMap { l =>
          val i = l.indexOf("windowspecdefinition(")
          if (i < 0) None
          else {
            val args = l.substring(i + "windowspecdefinition(".length)
            val head = args.substring(0,
              math.max(args.indexOf(','), 0).max(1))
            if (head.contains(" ASC") || head.contains(" DESC"))
              Some(s"$name: ${l.trim.take(120)}")
            else None
          }
        }.toSeq.headOption
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows found:\n${offenders.mkString("\n")}")
  }

  test("hnsw search is one fused plan: no localCheckpoint beam staging (r19)") {
    // The r19 optimization dropped the per-hop beam .stage() calls —
    // three hidden materialization jobs per search. Plain hnswTopK's
    // edges come from the parquet ArtifactCache, so its plan must
    // contain NO ExistingRDD (localCheckpoint) leaf at all; staging
    // that pays (the incremental merged edge set, the stream edge
    // fold) lives in the *_incr/*_stream variants only.
    val p = plan("sim_topk_hnsw")
    assert(!p.contains("ExistingRDD"),
      s"beam staging reappeared in the hnsw search plan:\n${p.take(2000)}")
  }

  test("ivf probe ranks cells map-side: no nested-loop join, one window " +
      "(rankTail's)") {
    val p = plan("sim_topk_ivf")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"the queries × centroids cross join is back:\n${p.take(2000)}")
    val windows = "\\bWindow \\[".r.findAllIn(p).size
    assert(windows == 1, s"expected only rankTail's window, found $windows:\n" +
      p.take(2000))
  }

  test("minhash buckets through one aggregation: no window, no staging, " +
      "no nested-loop join") {
    val p = plan("dedup_minhash")
    assert(!"\\bWindow \\[".r.findFirstIn(p).isDefined,
      s"a bucket-count window is back:\n${p.take(2000)}")
    assert(!p.contains("ExistingRDD"),
      s"the band rows are staged again:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("minhash buckets by a sorted-run walk: no object aggregate on the " +
      "band shuffle") {
    val p = plan("dedup_minhash")
    assert(!p.contains("ObjectHashAggregate"),
      s"a collect_list bucket aggregation is back:\n${p.take(2000)}")
  }

  test("tf-idf tokenizes the documents once: one Generate") {
    val p = plan("text_tfidf")
    val generates = "\\bGenerate ".r.findAllIn(p).size
    assert(generates == 1, s"expected one token Generate, found $generates:\n" +
      p.take(2000))
  }

  test("bounded top-k and summary results sort in one partition: no " +
      "range exchange") {
    // a rangepartitioning exchange costs a RangePartitioner sampling job
    // and a map job before the result job; these results are ≤ queries ×
    // K rows (rankTail) or ≤ the grouping domain (q1)
    Seq("sim_topk_brute", "sim_topk_ivf", "sim_topk_lsh", "sim_topk_pq",
        "sim_topk_hnsw", "q1_pricing_summary").foreach { name =>
      val p = plan(name)
      assert(!p.contains("rangepartitioning"),
        s"$name plans a range exchange:\n${p.take(2000)}")
    }
  }

  /** Spark jobs started while `body` runs, counted by a listener and
    * drained from the bus on both sides. */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.GraftShim
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftShim.waitListeners(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftShim.waitListeners(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("a warm dedup_minhash builds its frame without running a job") {
    val build = () => SparkEntry.queries("dedup_minhash")(spark, sf)
    build().collect() // warm: schema reads and codegen done
    assert(jobsDuring(build()) == 0)
  }

  Seq("dedup_minhash" -> 10, "text_tfidf" -> 7, "sim_topk_brute" -> 3,
      "sim_topk_ivf" -> 3, "q1_pricing_summary" -> 2,
      "dedup_embedding_lsh" -> 6, "dedup_incr_embedding_clustered" -> 9
  ).foreach { case (name, bound) =>
    test(s"a warm $name runs at most $bound jobs") {
      val run = () => SparkEntry.queries(name)(spark, sf).collect()
      run()
      val jobs = jobsDuring(run())
      assert(jobs <= bound, s"$name ran $jobs jobs")
    }
  }

  test("one embedding-LSH stream batch over a small state runs at most " +
      "22 jobs") {
    import org.apache.spark.sql.functions.col
    val cdir = graft.ops.Similarity.clusteredCorpusDir(spark)
    val vecs = graft.Tables.embeddings(spark, cdir)
      .select(col("vec_id"), col("embedding"))
    val root = graft.tools.TempDirs.createFast("graft-embjobs")
    try {
      def apply(batchId: Long): Unit = graft.ops.Dedup.embeddingStreamApplyBatch(
        vecs.filter(col("vec_id") >= batchId * 50 && col("vec_id") < (batchId + 1) * 50),
        batchId, s"$root/state", threshold = 0.5, tables = 4, bits = 10,
        probes = 2, idSpan = 200)
      apply(0L)
      val jobs = jobsDuring(apply(1L))
      assert(jobs <= 22, s"embedding stream batch 1 ran $jobs jobs")
    } finally graft.tools.TempDirs.deleteRecursively(root)
  }
}

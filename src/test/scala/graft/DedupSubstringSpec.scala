package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Substring-level dedup on PLANTED spans: the hash gate proves the
  * fixture corpus end to end; these pin the span semantics on hand-built
  * documents where the exact expected removal is known — cross-doc span
  * sharing, within-doc repetition, whole-doc duplication, and the
  * short-doc / clean-doc negatives. n = 4 keeps the examples readable;
  * the operator is length-agnostic. */
class DedupSubstringSpec extends SparkSpec {

  private def run(docs: Seq[(Long, String)], n: Int = 4): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    Dedup.substringDedupDocs(docs.toDF("doc_id", "text"), n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  test("a span shared by two docs is removed from BOTH; unique context survives") {
    // span S = s1..s5 (5 tokens): its two 4-grams each repeat across docs,
    // so exactly S's tokens are covered in both documents
    val got = run(Seq(
      1L -> "a1 a2 a3 s1 s2 s3 s4 s5 a4 a5 a6",
      2L -> "b1 b2 s1 s2 s3 s4 s5 b3 b4 b5 b6 b7"))
    assert(got(1L) == ((11L, 5L, "a1 a2 a3 a4 a5 a6")))
    assert(got(2L) == ((12L, 5L, "b1 b2 b3 b4 b5 b6 b7")))
  }

  test("a WITHIN-doc repeated span is removed at both occurrences") {
    val got = run(Seq(
      3L -> "x1 x2 x3 x4 y x1 x2 x3 x4",
      4L -> "c1 c2 c3 c4 c5 c6"))
    assert(got(3L) == ((9L, 8L, "y")))
    assert(got(4L) == ((6L, 0L, "c1 c2 c3 c4 c5 c6")))
  }

  test("exact whole-doc duplicates empty out (clean_text = '', not null)") {
    val got = run(Seq(
      5L -> "z1 z2 z3 z4",
      6L -> "z1 z2 z3 z4"))
    assert(got(5L) == ((4L, 4L, "")))
    assert(got(6L) == ((4L, 4L, "")))
  }

  test("docs shorter than the span length are never touched") {
    val got = run(Seq(
      7L -> "w1 w2",
      8L -> "w1 w2"))  // identical, but only 2 tokens < n=4: no gram exists
    assert(got(7L) == ((2L, 0L, "w1 w2")))
    assert(got(8L) == ((2L, 0L, "w1 w2")))
  }

  test("overlapping repeats merge into one covered region (maximal-repeat " +
      "equivalence: a shared region longer than n is removed in full)") {
    // docs share a 7-token run; every 4-gram inside it repeats, coverage
    // must be the union [0..6] on doc 10's offsets 2..8
    val got = run(Seq(
      9L  -> "r1 r2 r3 r4 r5 r6 r7",
      10L -> "d1 d2 r1 r2 r3 r4 r5 r6 r7 d3"))
    assert(got(9L) == ((7L, 7L, "")))
    assert(got(10L) == ((10L, 7L, "d1 d2 d3")))
  }

  private def runKeepFirst(docs: Seq[(Long, String)],
                           n: Int = 4): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    Dedup.substringDedupDocsKeepFirst(docs.toDF("doc_id", "text"), n)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
  }

  test("keep-first: the canonical first occurrence survives, later " +
      "occurrences are removed (Lee et al. retention rule)") {
    // cross-doc: doc 1 (smaller id) keeps the span, doc 2 loses it
    val got = runKeepFirst(Seq(
      1L -> "a1 a2 s1 s2 s3 s4 s5 a3",
      2L -> "b1 b2 s1 s2 s3 s4 s5 b3 b4"))
    assert(got(1L) == ((8L, 0L, "a1 a2 s1 s2 s3 s4 s5 a3")))
    assert(got(2L) == ((9L, 5L, "b1 b2 b3 b4")))
    // within-doc: the first occurrence survives, the repeat goes
    val got2 = runKeepFirst(Seq(3L -> "x1 x2 x3 x4 y x1 x2 x3 x4"))
    assert(got2(3L) == ((9L, 4L, "x1 x2 x3 x4 y")))
    // exact whole-doc duplicates: the lower doc_id survives intact
    val got3 = runKeepFirst(Seq(4L -> "z1 z2 z3 z4", 5L -> "z1 z2 z3 z4"))
    assert(got3(4L) == ((4L, 0L, "z1 z2 z3 z4")))
    assert(got3(5L) == ((4L, 4L, "")))
  }

  test("incremental == full md5 recompute; only affected ∪ delta docs " +
      "recompute") {
    import spark.implicits._
    val tmp = graft.tools.TempDirs.createFast("graft-subincr")
    try {
      // history 0..3: docs 0,2 share a span (already-duplicated in
      // history); delta 400 shares a NEW span with history doc 1; delta
      // 401 is clean. Affected history = {1} only.
      val docs = Seq(
        0L -> "p1 p2 p3 p4 a b c",
        1L -> "q1 q2 h1 h2 h3 h4 q3",
        2L -> "p1 p2 p3 p4 d e f",
        3L -> "r1 r2 r3 r4 r5 r6",
        400L -> "w1 h1 h2 h3 h4 w2 w3",
        401L -> "u1 u2 u3 u4 u5 u6")
        .toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
          "length(text) AS n_chars")
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val n = 4
      val full = graft.ops.Dedup
        .substringDedupDigestDocs(docs.select($"doc_id", $"text"), n)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val incr = graft.ops.Dedup
        .substringIncremental(spark, tmp, splitId = 400L, n = n)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(incr == full, "incremental must equal the full recompute")
      // sanity on the semantics: history-internal dup still removed,
      // the delta-shared span removed from BOTH sides of the split
      assert(full(0L)._2 == 4L && full(2L)._2 == 4L)
      assert(full(1L)._2 == 4L && full(400L)._2 == 4L)
      assert(full(3L)._2 == 0L && full(401L)._2 == 0L)
      // the recomputed (deltaOnly) frame covers exactly affected ∪ delta
      val recomputed = graft.ops.Dedup
        .substringIncremental(spark, tmp, splitId = 400L, n = n,
          deltaOnly = true, mode = "delta")
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(recomputed == Set(1L, 400L, 401L),
        s"recompute set must be affected ∪ delta, got $recomputed")
      // all three modes agree (the dispatch is result-invariant), and
      // auto chooses REBUILD here: affected ∪ delta = 3 of 6 docs
      // (5000 bp > the 2000 bp threshold)
      graft.tools.RoutingMetrics.drain()
      val modes = Seq("delta", "rebuild", "auto").map { m =>
        graft.ops.Dedup
          .substringIncremental(spark, tmp, splitId = 400L, n = n, mode = m)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3))).toSeq
      }
      assert(modes(0) == modes(1) && modes(1) == modes(2),
        "delta, rebuild, and auto must return identical results")
      val rm = graft.tools.RoutingMetrics.drain()
      assert(rm.getOrElse("substr_incr_mode_rebuild", 0L) == 2L,
        s"auto must dispatch rebuild at 50% affectedness; counters $rm")
      assert(rm("substr_incr_recompute_bp") == 5000L, s"counters $rm")
    } finally graft.tools.TempDirs.deleteRecursively(tmp)
  }

  test("streaming: prefix invariant (state after every epoch == full " +
      "recompute over ingested docs), cross-epoch span retro-covers, " +
      "replay idempotent") {
    import spark.implicits._
    val statePath = TempDirsSpecHelper.fresh("graft-substream-spec")
    try {
      val n = 4
      def b(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      def state(): Map[Long, (Long, Long, String)] =
        graft.ops.Dedup.substringStreamState(spark, statePath, Long.MaxValue)
          .get.collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      // epoch 0: doc 1 carries span S, nothing duplicated yet
      graft.ops.Dedup.substringStreamApplyBatch(
        b(1L -> "a1 a2 s1 s2 s3 s4 a3"), 0L, statePath, n, compactEvery = 2)
      assert(state()(1L) == ((7L, 0L, "a1 a2 s1 s2 s3 s4 a3")))
      // epoch 1: doc 2 repeats S — doc 1 must be RETRO-covered
      graft.ops.Dedup.substringStreamApplyBatch(
        b(2L -> "b1 s1 s2 s3 s4 b2"), 1L, statePath, n, compactEvery = 2)
      val s1 = state()
      assert(s1(1L) == ((7L, 4L, "a1 a2 a3")),
        "history doc must be retro-covered when a later batch repeats its span")
      assert(s1(2L) == ((6L, 4L, "b1 b2")))
      // epoch 2: unrelated doc — earlier rows untouched
      graft.ops.Dedup.substringStreamApplyBatch(
        b(3L -> "c1 c2 c3 c4 c5"), 2L, statePath, n, compactEvery = 2)
      val s2 = state()
      assert(s2(1L) == s1(1L) && s2(2L) == s1(2L))
      assert(s2(3L) == ((5L, 0L, "c1 c2 c3 c4 c5")))
      // at-least-once replay of the LAST epoch: identical state
      graft.ops.Dedup.substringStreamApplyBatch(
        b(3L -> "c1 c2 c3 c4 c5"), 2L, statePath, n, compactEvery = 2)
      assert(state() == s2, "replayed epoch must rewrite identical state")
      // full-recompute equality over everything ingested
      val full = graft.ops.Dedup.substringDedupDigestDocs(
        b(1L -> "a1 a2 s1 s2 s3 s4 a3", 2L -> "b1 s1 s2 s3 s4 b2",
          3L -> "c1 c2 c3 c4 c5"), n)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(state() == full)
    } finally graft.tools.TempDirs.deleteRecursively(
      statePath.stripSuffix("/state"))
  }

  test("fixture gate query: removal mass matches the oracle-computed rate " +
      "and output covers every tokenized doc") {
    val out = Dedup.substringDedup(spark, sf).localCheckpoint()
    val n = out.count()
    val docs = Tables.documents(spark, sf).count()
    assert(n == docs, s"$n result rows for $docs docs")
    val removed = out.agg(sum("n_removed")).head.getLong(0)
    assert(removed > 0, "fixture has repeated spans; removal must be non-vacuous")
    // no doc removes more than it has
    assert(out.filter(col("n_removed") > col("n_tokens")).count() == 0)
  }

  test("decontamination is ASYMMETRIC: test-set spans are removed from " +
      "train docs, train-internal repeats survive, test docs untouched") {
    import spark.implicits._
    val tmp = graft.tools.TempDirs.createFast("graft-decon")
    try {
      // md5 first hex digit routes the split: 27 -> '0' and 6 -> '1'
      // are TEST; 21/23/25/29 land outside {0,1} (asserted below)
      val span = "s1 s2 s3 s4"        // lives in TEST doc 27
      val trainRep = "r1 r2 r3 r4"    // repeated WITHIN train only
      val docs = Seq(
        27L -> s"tq1 $span tq2",                 // test: defines banned set
        6L  -> "other test content only here",   // test: no overlap
        21L -> s"a1 a2 $span a3",                // train: contaminated
        23L -> s"b1 b2 b3 $trainRep",            // train: internal repeat
        25L -> s"$trainRep c1 c2 c3",            // train: internal repeat
        29L -> "d1 d2 d3 d4 d5 d6")              // train: clean
        .toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
          "length(text) AS n_chars")
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      def bucket(id: Long) = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 1)
      assert(Seq(27L, 6L).forall(id => Set("0", "1")(bucket(id))),
        "fixture assumption: 27/38 are test-bucket ids")
      assert(Seq(21L, 23L, 25L, 29L).forall(id => !Set("0", "1")(bucket(id))))
      val out = graft.ops.Dedup.decontaminate(spark, tmp, n = 4)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      // only train docs in the output
      assert(out.keySet == Set(21L, 23L, 25L, 29L))
      // the contaminated span is gone from doc 21; context survives
      assert(out(21L) == ((7L, 4L, "a1 a2 a3")), s"got ${out(21L)}")
      // train-internal repetition is NOT contamination — untouched
      assert(out(23L)._2 == 0L && out(25L)._2 == 0L)
      assert(out(29L)._2 == 0L)
    } finally graft.tools.TempDirs.deleteRecursively(tmp)
  }

  test("streaming decontamination: a MID-TRAINING eval delta retro-cleans " +
      "already-ingested train docs; train-internal repeats survive; replay " +
      "idempotent") {
    import spark.implicits._
    val statePath = TempDirsSpecHelper.fresh("graft-dcstream-spec")
    try {
      val n = 4
      def b(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      def state(): Map[Long, (Long, Long, String)] =
        graft.ops.Dedup.substringStreamState(spark, statePath, Long.MaxValue)
          .get.collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      // epoch 0: train doc 1 carries span S; the eval set is still empty
      graft.ops.Dedup.decontaminateStreamApplyBatch(
        b(1L -> "a1 a2 s1 s2 s3 s4 a3"), b(), 0L, statePath, n,
        compactEvery = 2)
      assert(state()(1L) == ((7L, 0L, "a1 a2 s1 s2 s3 s4 a3")))
      // epoch 1: the eval set GAINS a doc containing S (the mid-training
      // benchmark drop) — history doc 1 must be re-cleaned, and the
      // arriving contaminated train doc 2 cleaned on ingest
      graft.ops.Dedup.decontaminateStreamApplyBatch(
        b(2L -> "b1 s1 s2 s3 s4 b2"), b(100L -> "tq1 s1 s2 s3 s4 tq2"),
        1L, statePath, n, compactEvery = 2)
      val s1 = state()
      assert(s1(1L) == ((7L, 4L, "a1 a2 a3")),
        "history train doc must be re-cleaned when the eval set gains its span")
      assert(s1(2L) == ((6L, 4L, "b1 b2")))
      assert(!s1.contains(100L), "eval docs never enter the results")
      // epoch 2: a train-internal repeat arrives — decontamination is
      // asymmetric, so it survives untouched
      graft.ops.Dedup.decontaminateStreamApplyBatch(
        b(3L -> "r1 r2 r3 r4 c1", 4L -> "r1 r2 r3 r4 c2"), b(),
        2L, statePath, n, compactEvery = 2)
      val s2 = state()
      assert(s2(3L)._2 == 0L && s2(4L)._2 == 0L,
        "train-internal repetition is not contamination")
      assert(s2(1L) == s1(1L) && s2(2L) == s1(2L))
      // at-least-once replay of the LAST epoch: identical state
      graft.ops.Dedup.decontaminateStreamApplyBatch(
        b(3L -> "r1 r2 r3 r4 c1", 4L -> "r1 r2 r3 r4 c2"), b(),
        2L, statePath, n, compactEvery = 2)
      assert(state() == s2, "replayed epoch must rewrite identical state")
    } finally graft.tools.TempDirs.deleteRecursively(
      statePath.stripSuffix("/state"))
  }

  test("streaming decontamination under lateness: late train doc " +
      "quarantined (never stored or cleaned); the eval side is exempt " +
      "and still bans") {
    import spark.implicits._
    val root = graft.tools.TempDirs.createFast("graft-dclate")
    try {
      val (lateState, dedupState) = (s"$root/late", s"$root/state")
      val n = 4
      def bt(rows: (Long, String, Long)*) =
        rows.toSeq.toDF("doc_id", "text", "ts_us")
      def b(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      // lateness covers the TRAIN side only: a late eval doc must still
      // ban its grams (missing a contamination source is worse than
      // processing it late, and the banned set is order-insensitive)
      def applyLate(train: DataFrame, test: DataFrame, epoch: Long): Unit =
        graft.ops.CdcUpsert.withLateness(train, epoch, lateState,
            2000000L, col("ts_us")) { onTime =>
          graft.ops.Dedup.decontaminateStreamApplyBatch(
            onTime.select(col("doc_id"), col("text")), test, epoch,
            dedupState, n)
        }
      // epoch 0: on-time train doc at ts 9 s → watermark 7 s (lateness 2 s)
      applyLate(bt((1L, "a1 a2 s1 s2 s3 s4 a3", 9000000L)), b(), 0L)
      // epoch 1: doc 2 (ts 1 s) is below the carried watermark →
      // quarantined; doc 3 on-time; the eval delta bans S
      applyLate(
        bt((2L, "b1 s1 s2 s3 s4 b2", 1000000L),
           (3L, "c1 s1 s2 s3 s4 c2", 9500000L)),
        b(100L -> "tq1 s1 s2 s3 s4 tq2"), 1L)
      val st = graft.ops.Dedup.substringStreamState(
          spark, dedupState, Long.MaxValue).get.collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      assert(!st.contains(2L), "late train doc must not reach the state")
      assert(st(1L) == ((7L, 4L, "a1 a2 a3")),
        "history doc re-cleaned by the epoch-1 eval delta")
      assert(st(3L) == ((6L, 4L, "c1 c2")))
      val quar = graft.ops.CdcUpsert.quarantineAsOf(spark, lateState, 1L)
        .get.collect().map(r => r.getAs[Long]("doc_id")).toSet
      assert(quar == Set(2L))
    } finally graft.tools.TempDirs.deleteRecursively(root)
  }

  test("rolling gram digests: the O(len) recurrence equals direct BigInt " +
      "polynomial evaluation per window; equal windows collide, others don't") {
    val text = "a b c a b c a b x y a b"
    val n = 3
    val got = graft.functions.TextKernels.gramDigests(text, n)
    val toks = text.split(" ")
    assert(got.length == toks.length - n + 1)
    // independent reference: h_i from the kernel's own 1-gram digests
    // (a length-1 window's digest IS the token hash), then direct
    // Horner evaluation in BigInt mod 2^61-1 — no rolling update shared
    // with the code under test
    val p = BigInt((1L << 61) - 1)
    val h = graft.functions.TextKernels.gramDigests(text, 1).map(d => BigInt(d._1))
    val b1 = BigInt(314159265358979323L)
    for (s <- got.indices) {
      val want = (s until s + n).foldLeft(BigInt(0))((acc, i) => (acc * b1 + h(i)) mod p)
      assert(BigInt(got(s)._1) == want, s"window $s d1 mismatch")
    }
    // semantic collision structure: the leading "a b c a b c" repeats
    // windows 0-2 at 3-5; the x/y tail windows are unique
    assert(got(0) == got(3) && got(1) == got(4) && got(2) == got(5),
      "identical grams must share digests")
    assert(got.toSeq.distinct.size == got.length - 3, "only the repeats collide")
    // short docs: no windows
    assert(graft.functions.TextKernels.gramDigests("a b", 3).isEmpty)
  }

  test("plan shape: no cartesian product, no all-pairs join — duplicate " +
      "detection is groupBy-based") {
    val plan = Dedup.substringDedup(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "substring dedup must not cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "substring dedup must not nested-loop join")
  }
}

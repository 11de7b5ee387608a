package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame

/** Dedup-suite semantics on tiny controlled corpora written to temp
  * parquet (the operators read a directory, like production). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Build a documents.parquet in a temp dir from (doc_id, text) pairs. */
  private def corpus(rows: (Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.toSeq
      .map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private val nearDup = base.replace("tonight", "today") // 1-word edit
  private val unrelated =
    "completely different content about spark shuffles and partitions in clusters now"

  /** A late gate's lateness step around a stream family's apply body:
    * `CdcUpsert.withLateness` splits the event-time (`ts_us`) batch,
    * quarantines its late rows under `lateState` and hands the on-time
    * rows to `apply`. */
  private def lateApply(batch: DataFrame, epoch: Long,
                        lateState: String, latenessMicros: Long)
                       (apply: DataFrame => Unit): Unit =
    graft.ops.CdcUpsert.withLateness(batch, epoch, lateState, latenessMicros,
      org.apache.spark.sql.functions.col("ts_us"))(apply)

  test("minhash finds the planted near-dup pair and not the unrelated doc") {
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated))
    val pairs = Dedup.minhash(spark, dir, jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("minhash jaccard value is the exact shingle-set jaccard") {
    val dir = corpus((1L, base), (2L, base)) // identical docs
    val j = Dedup.minhash(spark, dir).collect().head.getDouble(2)
    assert(j == 1.0)
  }

  test("simhash: identical docs collide at hamming 0; near-dups small hamming") {
    val dir = corpus((1L, base), (2L, base), (3L, unrelated))
    val out = Dedup.simhash(spark, dir, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(out((1L, 2L)) == 0)
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
  }

  test("exact dedup keeps the lowest doc_id per distinct text") {
    val dir = corpus((5L, base), (2L, base), (9L, unrelated))
    val kept = Dedup.exact(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kept == Map(2L -> 2L, 9L -> 1L)) // keep_id -> n_copies
  }

  test("embedding cosine near-dup finds identical vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-emb").toString
    val v = Array.tabulate(64)(i => (math.sin(i) * 0.1).toFloat)
    val w = Array.tabulate(64)(i => (math.cos(i) * 0.1).toFloat)
    Seq((1L, v, 0), (2L, v, 0), (3L, w, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Dedup.embeddingCosine(spark, dir, threshold = 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pairs.length == 1)
    val (a, b, cos) = pairs.head
    assert((a, b) == (1L, 2L) && math.abs(cos - 1.0) < 1e-12)
  }

  test("connected components resolve pair chains into dedup groups") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated 4: component {1,2,3} keeps 1
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val ids = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val labels = Dedup.components(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("minhash recall is total vs exact all-pairs shingle jaccard (fixture)") {
    import org.apache.spark.sql.functions._
    val sh = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextKernels.shingleUdf(col("text"), lit(3)).as("s"))
      .filter(size(col("s")) > 0)
    val a = sh.select(col("doc_id").as("a_id"), col("s").as("a_s"))
    val b = sh.select(col("doc_id").as("b_id"), col("s").as("b_s"))
    val truth = a.join(b, col("a_id") < col("b_id"))
      .withColumn("j", size(array_intersect(col("a_s"), col("b_s"))).cast("double") /
        size(array_union(col("a_s"), col("b_s"))).cast("double"))
      .filter(col("j") >= 0.5).select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.intersect(mh).size.toDouble / math.max(truth.size, 1)
    info(f"minhash recall vs exact jaccard>=0.5 = $recall%.3f (truth=${truth.size})")
    assert(truth.nonEmpty, "fixture has no true near-dup pairs — vacuous test")
    assert(recall >= 0.95, f"minhash recall $recall%.3f below floor 0.95")
  }

  test("embedding LSH recall >= 0.9 on planted near-dups at adaptive bits") {
    // 100 well-spread base directions, each with a jittered near-copy
    // (cos ≈ 0.9999) — the regime LSH near-dup is designed for. At the
    // adaptive signature width the per-bit flip probability for a true
    // near-dup is ~θ/π ≈ 0.004, so every planted pair survives Hamming ≤ 2
    // multi-probe in some table w.h.p.; random cross pairs (cos ~ N(0,1/8))
    // essentially never do.
    val dir = java.nio.file.Files.createTempDirectory("graft-lshdup").toString
    val rnd = new scala.util.Random(7)
    val rows = (0 until 100).flatMap { i =>
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val w = v.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      Seq((2L * i, v, i % 4), (2L * i + 1, w, i % 4))
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val lsh = Dedup.embeddingLsh(spark, dir, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 100).map(i => (2L * i, 2L * i + 1)).toSet
    val recall = planted.intersect(lsh).size.toDouble / planted.size
    info(f"embedding-LSH recall on planted near-dups = $recall%.3f (found=${lsh.size})")
    assert(recall >= 0.9, f"embedding-LSH recall $recall%.3f below floor 0.9")
  }

  test("embedding LSH candidate pairs stay <= 5% of all pairs (sf0.1, adaptive bits)") {
    import org.apache.spark.sql.functions.col
    // The sub-linearity claim, asserted: on the isotropic sf0.1 corpus
    // (worst case for LSH — no structure), adaptive bits keep the
    // candidate set a bounded fraction of the n·(n−1)/2 pairs brute-force
    // dedup would score. Signatures are hash-deterministic → exact value.
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val bits = graft.ops.Similarity.adaptiveLshBits(n)
    val cands = Dedup.embeddingLshCandidates(e, tables = 4, bits = bits, probes = 2).count()
    val allPairs = n * (n - 1) / 2
    info(f"adaptive bits=$bits, candidates=$cands of $allPairs pairs (${cands.toDouble / allPairs}%.4f)")
    assert(cands <= 0.05 * allPairs,
      s"candidate pairs $cands exceed 5% of $allPairs — LSH not sub-linear-shaped")
    // the exact set: a signature, probe or candidate-join drift moves it
    assert(cands == 64264L, s"candidate count drifted: $cands")
  }

  test("components match a reference union-find on random graphs") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(5)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (0 until 35)
        .map(_ => (rnd.nextInt(n), rnd.nextInt(n)))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
        .distinct
      // reference union-find with min-id roots (attach larger root under
      // smaller, so each root is its component's minimum id)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val pairs = edges.toDF("a_id", "b_id")
      val ids = (0 until n).map(_.toLong).toDF("doc_id")
      val got = Dedup.components(pairs, ids)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial: labels diverge from union-find")
    }
  }

  test("simhash recall is exactly 1.0 for hamming<=3 (pigeonhole guarantee)") {
    import org.apache.spark.sql.functions._
    // 4 bands × 16 bits: any pair at hamming <= 3 agrees on >= 1 band, so
    // banding can never miss one — recall vs the exact all-pairs truth is
    // a deterministic 1.0, not a probabilistic floor.
    val fp = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextKernels.simhashUdf(col("text")).as("fp"))
    val a = fp.select(col("doc_id").as("a_id"), col("fp").as("a_fp"))
    val b = fp.select(col("doc_id").as("b_id"), col("fp").as("b_fp"))
    val truth = a.join(b, col("a_id") < col("b_id"))
      .withColumn("h", bit_count(col("a_fp").bitwiseXOR(col("b_fp"))))
      .filter(col("h") <= 3).select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.simhash(spark, sf, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"simhash truth pairs = ${truth.size}")
    assert(truth.nonEmpty, "fixture has no hamming<=3 pairs — vacuous test")
    assert(sh == truth, "simhash output must equal the exact hamming<=3 pair set")
  }

  test("components converge on a diameter-9 chain (beyond the fixed min rounds)") {
    import spark.implicits._
    // path 1-2-3-...-10: min label 1 propagates one hop per round, so a
    // fixed-4-round loop would leave nodes 6..10 mislabeled — the
    // convergence probe must keep iterating until zero changed labels.
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val ids = (1L to 10L).toDF("doc_id")
    val labels = Dedup.components(pairs, ids)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == (1L to 10L).map(_ -> 1L).toMap)
  }

  test("dedup groups keep exactly one representative per near-dup set") {
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated))
    val out = Dedup.dedupGroups(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSet == Set(
      (1L, 1L, 2L, 1),  // keeper of the {1,2} near-dup group
      (2L, 1L, 2L, 0),  // dropped duplicate
      (3L, 3L, 1L, 1))) // singleton keeps itself
  }

  test("keep-best retention: the highest-quality group member wins, " +
      "not the lowest id; quality counts alphabetic tokens only") {
    // ids 0/3/6 share source src0: 6 is an exact copy of 0 (12 alpha
    // tokens), 3 adds two alpha tokens (quality 14, jaccard 12/14 with
    // the base) — the id-order rule would keep 0; keep-best must keep 3.
    // id 9 (also src0) is an unrelated singleton whose digit tokens
    // must NOT count toward quality.
    val b = (0 until 12).map(i => s"tok$i").mkString(" ")
    val dir = corpus(
      (0L, b), (3L, b + " extra bonus"), (6L, b),
      (9L, "99 42 777 zz11 only letters matter here right now ok yes"))
    val out = Dedup.dedupKeepBest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSet == Set(
      (0L, 0L, 12L, 0),  // old rule's keeper, outranked on quality
      (3L, 0L, 14L, 1),  // highest quality in the group wins
      (6L, 0L, 12L, 0),
      (9L, 9L, 9L, 1)))  // 12 tokens, 3 pure-digit → quality 9; singleton
  }

  test("ngramJaccard oversized blocks route to minhash with the same pairs") {
    // ONE pathological block (same lang/source/len_bucket) of 60 docs:
    // 30 planted near-dup pairs (Jaccard 19/20 = 0.95) on disjoint token
    // vocabularies. Guarded run (cap 20 → whole block escapes to the
    // within-block minhash route) must return exactly the exact-route
    // pairs. At s=0.95 the 8×8 escape-band per-pair miss probability is
    // (1−0.95⁸)⁸ ≈ 1.6e-4 (~0.5% chance of ≥1 miss over a fresh hash
    // family at 30 pairs) — but the hashes here are FIXED, so the
    // assertion is deterministic; if a vocab/seed/band-geometry change
    // ever flips a pair out, raise the planted similarity rather than
    // weakening the equality.
    val docs = (0 until 30).flatMap { p =>
      val vocab = (0 until 20).map(t => s"w${p}_$t")
      Seq((2L * p, vocab), (2L * p + 1, vocab.drop(1)))
    }.map { case (id, toks) => ("en", "s", 0L, id, toks) }
      .toDF("lang", "source", "len_bucket", "doc_id", "toks")
    def run(cap: Int) =
      ops.Dedup.ngramJaccardOf(docs, 0.5, maxBlockExact = cap)
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val exact = run(10000)
    val guarded = run(20)
    assert(exact.size == 30)
    assert(guarded == exact)
  }

  test("guarded gate entry: escape route equals all-exact, routing metrics fire") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    graft.tools.RoutingMetrics.drain()
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // default cap 64: the planted 480-doc block routes to the escape path
    val guarded = collect(Dedup.ngramJaccardGuarded(spark, dir))
    val m = graft.tools.RoutingMetrics.drain()
    assert(m("jaccard_oversized_blocks") == 1L)
    assert(m("jaccard_docs_routed") ==
      Dedup.PlantedBlockDocs.toLong * Dedup.PlantedVariants)
    assert(m("jaccard_capped_band_buckets") == 0L)
    // cap high enough that the same corpus pairs entirely on the exact
    // route — byte-identical output is the escape-path equivalence claim
    val exact = collect(Dedup.ngramJaccardGuarded(spark, dir,
      maxBlockExact = 1000000))
    assert(graft.tools.RoutingMetrics.drain()("jaccard_oversized_blocks") == 0L)
    assert(guarded == exact)
    assert(guarded.count(_._1 == "xx") > 1000) // the planted block really pairs
    assert(guarded.exists(_._1 != "xx"))       // and the exact route contributes
  }

  test("fixture blocks stay under MaxBlockExact — the unguarded jaccard " +
      "oracle only ever sees the exact route") {
    import org.apache.spark.sql.functions._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val maxBlock = Tables.documents(spark, s"/root/testdata/$sf")
        .groupBy(col("lang"), col("source"),
          (col("n_chars") / 100).cast("long").as("len_bucket"))
        .count().agg(max("count")).head().getLong(0)
      assert(maxBlock <= Dedup.MaxBlockExact,
        s"$sf max block $maxBlock > ${Dedup.MaxBlockExact}: dedup_jaccard's " +
          "oracle would diverge from the escape route — raise MaxBlockExact " +
          "or give the fixture its own guarded entry")
    }
  }

  test("incremental jaccard (artifact + delta) equals the full recompute") {
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val incr = Dedup.ngramJaccardIncremental(spark, dir).collect().map(key).toSeq
    val full = Dedup.ngramJaccard(spark, dir).collect().map(key).toSeq
    assert(incr == full)
    // both terms are live: history pairs (both ids < 400) and delta pairs
    assert(incr.exists(p => p._3 < 400 && p._4 < 400))
    assert(incr.exists(_._4 >= 400))
  }

  test("incremental minhash band-index delta equals the full rebuild") {
    val dir = "/root/testdata/sf0.001"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val incr = Dedup.minhashIncremental(spark, dir).collect().map(key).toSeq
    val full = Dedup.minhash(spark, dir).collect().map(key).toSeq
    assert(incr == full)
    assert(incr.exists(p => p._1 < 400 && p._2 < 400)) // artifact term live
    assert(incr.exists(_._2 >= 400))                   // delta term live
  }

  test("incremental minhash retracts historical pairs when the delta " +
      "crosses the bucket cap") {
    // Identical docs 1–6 share EVERY band key. History = {1..4}: bucket
    // size 4 ≤ cap 4, so the historical build pairs all C(4,2)=6. The
    // delta {5,6} pushes every one of those buckets to 6 > 4 — a full
    // rebuild at cap 4 refuses to pair inside them at all, so the
    // incremental form must RETRACT all six historical pairs. The stable
    // near-dup cluster {7,8} spans the split and must still come through
    // as a delta pair. Equality with the rebuild is the whole assertion.
    val dir = corpus((1L, base), (2L, base), (3L, base), (4L, base),
      (5L, base), (6L, base),
      (7L, unrelated), (8L, unrelated.replace("now", "today")))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val incr = Dedup.minhashIncremental(spark, dir, splitId = 5,
      maxBucket = 4).collect().map(key).toSeq
    val full = Dedup.minhash(spark, dir, maxBucket = 4).collect()
      .map(key).toSeq
    assert(incr == full)
    assert(!incr.exists(p => p._1 <= 6 && p._2 <= 6),
      s"capped-cluster pairs must be retracted, got $incr")
    assert(incr.map(p => (p._1, p._2)) == Seq((7L, 8L)),
      s"the uncrossed near-dup pair must survive, got $incr")
  }

  test("streaming minhash dedup: survivors equal the batch " +
      "no-earlier-near-dup rule") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val survivors = Dedup.minhashStream(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    val dupIds = Dedup.minhash(spark, dir, sorted = false)
      .select(col("b_id").as("doc_id")).distinct()
    val expect = Tables.documents(spark, dir).select(col("doc_id"))
      .join(dupIds, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors == expect)
    assert(survivors.nonEmpty && survivors.size <
      Tables.documents(spark, dir).count()) // some dup was actually dropped
  }

  test("streaming minhash batch apply is idempotent under replay " +
      "(versioned state)") {
    import org.apache.spark.sql.functions.col
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " extra words here"))
    val statePath =
      java.nio.file.Files.createTempDirectory("graft-stream-state").toString + "/state"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // compactEvery=2 so batch 1 also exercises the compaction + GC path
    Dedup.minhashStreamApplyBatch(docs.filter(col("doc_id") <= 2), 0L,
      statePath, 0.5, 200, compactEvery = 2, idSpan = 5L)
    val b1 = docs.filter(col("doc_id") > 2)
    Dedup.minhashStreamApplyBatch(b1, 1L, statePath, 0.5, 200,
      compactEvery = 2, idSpan = 5L)
    def read(root: String) = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/$root", 1L): _*)
    def shingleIds() = spark.read.parquet(
      graft.tools.RangeState.pathsAsOf(s"$statePath/shingles", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    def snap() = (
      read("survivors").collect().map(_.getLong(0)).toSet,
      read("index")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet,
      shingleIds())
    val first = snap()
    // the verify's shingle store holds every arrival exactly once
    assert(first._3 == Set(1L, 2L, 3L, 4L))
    // foreachBatch is at-least-once: a crash after batch 1's writes
    // re-runs batch 1; the replay must rewrite the v1 delta (and the v1
    // compaction base) from state < 1, not double-apply (the q95
    // log-structured protocol)
    Dedup.minhashStreamApplyBatch(b1, 1L, statePath, 0.5, 200,
      compactEvery = 2, idSpan = 5L)
    assert(snap() == first)
    // the delta really is O(batch): batch 1's index delta carries band
    // rows for ONLY its two docs, not the corpus-so-far
    assert(spark.read.parquet(s"$statePath/index/delta/v1")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    // survivors follow the batch rule (computed, not hash-hardcoded)
    val dupIds = Dedup.minhash(spark, dir, sorted = false)
      .select(col("b_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(first._1 == Set(1L, 2L, 3L, 4L) -- dupIds)
    assert(dupIds.contains(2L)) // the planted near-dup really dropped
    // the index holds band rows for ALL arrivals, dropped dups included
    assert(first._2.map(_._1) == Set(1L, 2L, 3L, 4L))
  }

  test("incremental embedding-LSH == full rebuild on the fixture corpus; " +
      "delta feed carries only new-endpoint pairs") {
    import org.apache.spark.sql.functions.col
    def ps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = ps(Dedup.embeddingLsh(spark, sf).select(col("a_id"), col("b_id")))
    val maxId = Tables.embeddings(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("vec_id"))).head.getLong(0)
    val split = maxId / 2
    val incr = ps(Dedup.embeddingLshIncremental(spark, sf, splitId = split)
      .select(col("a_id"), col("b_id")))
    assert(incr == full, s"incremental diverged: ${incr.diff(full)} / ${full.diff(incr)}")
    val delta = ps(Dedup.embeddingLshIncremental(spark, sf, splitId = split,
      deltaOnly = true).select(col("a_id"), col("b_id")))
    assert(delta.subsetOf(full) && delta.forall(_._2 >= split))
    assert((full -- delta).forall(_._2 < split))
  }

  test("streaming simhash batch apply: survivor rule matches the batch " +
      "operator, index carries fingerprints, replay idempotent") {
    import org.apache.spark.sql.functions.col
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base))   // arrives in batch 1: exact copy of doc 1 → dup
    val statePath =
      java.nio.file.Files.createTempDirectory("graft-simstream-spec")
        .toString + "/state"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    Dedup.simhashStreamApplyBatch(docs.filter(col("doc_id") <= 2), 0L,
      statePath, compactEvery = 2)
    val b1 = docs.filter(col("doc_id") > 2)
    Dedup.simhashStreamApplyBatch(b1, 1L, statePath, compactEvery = 2)
    def surv() = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/survivors", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    val first = surv()
    // doc 4 is the later side of a Hamming-0 pair with doc 1 → dropped;
    // whether doc 2 (1-word edit) survives follows the BATCH operator
    val batchDups = Dedup.simhash(spark, dir)
      .select(col("b_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(first == Set(1L, 2L, 3L, 4L) -- batchDups)
    assert(batchDups.contains(4L), "exact copy must be dropped")
    // index rows carry the fingerprint (the no-separate-store design)
    val idx = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/index", 1L): _*)
    assert(idx.columns.toSet == Set("doc_id", "fp", "band", "band_sig"))
    assert(idx.select(col("doc_id")).distinct().count() == 4)
    // at-least-once replay of the last batch rewrites identical state
    Dedup.simhashStreamApplyBatch(b1, 1L, statePath, compactEvery = 2)
    assert(surv() == first)
    graft.tools.TempDirs.deleteRecursively(
      statePath.stripSuffix("/state"))
  }

  test("streaming simhash: a null-fingerprint (empty-text) doc pairs " +
      "with nothing and must SURVIVE, not vanish from the log") {
    import org.apache.spark.sql.functions.col
    val dir = corpus((1L, base), (2L, ""), (3L, "...\t "))
    val statePath =
      java.nio.file.Files.createTempDirectory("graft-simnull-spec")
        .toString + "/state"
    Dedup.simhashStreamApplyBatch(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      0L, statePath, compactEvery = 2)
    val surv = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/survivors", 0L): _*)
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 2L, 3L),
      s"empty-text docs dropped from the survivors log: $surv")
    graft.tools.TempDirs.deleteRecursively(
      statePath.stripSuffix("/state"))
  }

  test("streaming simhash under lateness: late doc quarantined, never " +
      "indexed; survivors from on-time docs only") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
    val root =
      java.nio.file.Files.createTempDirectory("graft-latesim").toString
    val (lateState, dedupState) = (s"$root/late", s"$root/state")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def applyLate(batch: DataFrame, epoch: Long): Unit =
      lateApply(batch, epoch, lateState, latenessMicros = 2000000L) { onTime =>
        Dedup.simhashStreamApplyBatch(onTime.select(col("doc_id"),
          col("text")), epoch, dedupState)
      }
    applyLate(
      docs.filter(col("doc_id") <= 2)
        .withColumn("ts_us", col("doc_id") * 1000000L + 9000000L), 0L)
    // doc 3 arrives LATE (5s < wm(0)=9s); doc 4 (copy of 1) on time
    applyLate(
      docs.filter(col("doc_id") > 2)
        .withColumn("ts_us", when(col("doc_id") === 3L, lit(5000000L))
          .otherwise(lit(12000000L))), 1L)
    val idx = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$dedupState/index", 1L): _*)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(idx == Set(1L, 2L, 4L), s"late doc leaked into the index: $idx")
    val surv = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$dedupState/survivors", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    assert(!surv.contains(3L) && !surv.contains(4L) && surv.contains(1L))
    assert(graft.ops.CdcUpsert.quarantineAsOf(spark, lateState, 1L).get
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq == Seq(3L))
    graft.tools.TempDirs.deleteRecursively(root)
  }

  test("incremental simhash == full rebuild (cross-split exact copy must " +
      "pair; delta-only feed carries exactly the new pairs)") {
    import org.apache.spark.sql.functions.col
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, "completely different words in this one"),
      (5L, base),           // delta: exact copy of hist doc 1 → Hamming 0
      (6L, unrelated))      // delta: copy of hist doc 3
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = pairSet(Dedup.simhash(spark, dir))
    val incr = pairSet(Dedup.simhashIncremental(spark, dir, splitId = 5L))
    assert(incr == full, s"incremental $incr != full $full")
    assert(full.contains((1L, 5L, 0)) && full.contains((3L, 6L, 0)),
      "cross-split exact copies must pair at Hamming 0")
    val delta = pairSet(Dedup.simhashIncremental(spark, dir, splitId = 5L,
      deltaOnly = true))
    assert(delta.subsetOf(full) && delta.forall(p => p._2 >= 5L),
      s"delta feed must be the new-endpoint pairs only: $delta")
    assert((full -- delta).forall(p => p._2 < 5L),
      "history pairs must come from the artifact, not the delta feed")
  }

  test("streaming minhash under lateness: below-watermark docs quarantine " +
      "and never reach the band index / shingle store; replay idempotent") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = corpus((1L, base), (2L, nearDup), (3L, unrelated),
      (4L, base + " extra words here"))
    val root =
      java.nio.file.Files.createTempDirectory("graft-latemh").toString
    val (lateState, dedupState) = (s"$root/late", s"$root/state")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def applyLate(batch: DataFrame, epoch: Long): Unit =
      lateApply(batch, epoch, lateState, latenessMicros = 2000000L) { onTime =>
        Dedup.minhashStreamApplyBatch(onTime.select(col("doc_id"),
          col("text")), epoch, dedupState, jaccardThreshold = 0.5,
          maxBucket = Dedup.MinhashMaxBucket)
      }
    // epoch 0: docs 1,2 at ts 10s/11s; L=2s → wm(0)=9s
    applyLate(
      docs.filter(col("doc_id") <= 2)
        .withColumn("ts_us", col("doc_id") * 1000000L + 9000000L), 0L)
    // epoch 1: doc 3 at 5s (below wm(0) → LATE), doc 4 at 12s (on time)
    val b1 = docs.filter(col("doc_id") > 2)
      .withColumn("ts_us",
        org.apache.spark.sql.functions.when(col("doc_id") === 3L,
          lit(5000000L)).otherwise(lit(12000000L)))
    applyLate(b1, 1L)
    def shingleIds() = spark.read.parquet(
      graft.tools.RangeState.pathsAsOf(s"$dedupState/shingles", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    def read(r: String) = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$dedupState/$r", 1L): _*)
    def snap() = (
      read("survivors").collect().map(_.getLong(0)).toSet,
      read("index").collect().map(_.getLong(0)).toSet,
      shingleIds())
    val first = snap()
    // the late doc is in NO state log; everything on-time is
    assert(first._2 == Set(1L, 2L, 3L, 4L) -- Set(3L) &&
      first._3 == Set(1L, 2L, 4L), s"late doc leaked into state: $first")
    assert(!first._1.contains(3L))
    val quar = graft.ops.CdcUpsert.quarantineAsOf(spark, lateState, 1L).get
    assert(quar.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      == Seq(3L))
    assert(quar.select(col("quarantine_epoch")).head.getLong(0) == 1L)
    // at-least-once replay of the last epoch rewrites identical state
    // AND identical quarantine
    applyLate(b1, 1L)
    assert(snap() == first)
    assert(graft.ops.CdcUpsert.quarantineAsOf(spark, lateState, 1L).get
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq == Seq(3L))
    graft.tools.TempDirs.deleteRecursively(root)
  }

  test("streaming minhash under lateness: a quarantined replica does not " +
      "suppress its family's survivor, and a quarantined FIRST copy does " +
      "not pre-claim survivorship from a later on-time copy") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = corpus((1L, base), (3L, base), (4L, unrelated),
      (5L, unrelated))
    val root =
      java.nio.file.Files.createTempDirectory("graft-latemh2").toString
    val (lateState, dedupState) = (s"$root/late", s"$root/state")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def applyLate(batch: DataFrame, epoch: Long): Unit =
      lateApply(batch, epoch, lateState, latenessMicros = 2000000L) { onTime =>
        Dedup.minhashStreamApplyBatch(onTime.select(col("doc_id"),
          col("text")), epoch, dedupState, jaccardThreshold = 0.5,
          maxBucket = Dedup.MinhashMaxBucket)
      }
    // epoch 0: doc 1 (family A survivor) at 10s; L=2s → wm(0)=8s
    applyLate(
      docs.filter(col("doc_id") === 1L).withColumn("ts_us", lit(10000000L)),
      0L)
    // epoch 1: doc 3 = LATE replica of A (ts 5s < wm) → must quarantine,
    // and doc 1 must STAY the survivor; doc 4 = LATE first copy of
    // family B (ts 6s < wm) → quarantined, B has no survivor yet
    applyLate(
      docs.filter(col("doc_id").isin(3L, 4L))
        .withColumn("ts_us", when(col("doc_id") === 3L, lit(5000000L))
          .otherwise(lit(6000000L))),
      1L)
    // epoch 2: doc 5 = ON-TIME copy of family B's text → must SURVIVE
    // (the quarantined doc 4 never entered the index, so it cannot have
    // pre-claimed family B)
    applyLate(
      docs.filter(col("doc_id") === 5L).withColumn("ts_us", lit(12000000L)),
      2L)
    val surv = spark.read.parquet(graft.tools.LogState.pathsAsOf(
        s"$dedupState/survivors", 2L): _*)
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 5L),
      s"expected on-time survivors {1, 5}, got $surv")
    val quar = graft.ops.CdcUpsert.quarantineAsOf(spark, lateState, 2L).get
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(quar == Set(3L, 4L), s"expected quarantine {3, 4}, got $quar")
    graft.tools.TempDirs.deleteRecursively(root)
  }

  test("fuzzy entity match: typo-level name variants inside blocks only") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzzy").toString
    Seq(
      (1L, "Customer#1", 1, "AUTO"),   // 1 edit from #2 -> match
      (2L, "Customer#2", 1, "AUTO"),
      (3L, "Customer#29", 1, "AUTO"),  // 2 edits from #1, 1 from #2 -> one match
      (4L, "Customer#1", 2, "AUTO"),   // identical name, DIFFERENT block -> no pair
      (5L, "Somebody#1", 1, "AUTO"))   // 8 edits -> no match
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Dedup.fuzzy(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 1), (2L, 3L, 1)))
  }

  test("overlapMatrix: known shingle geometry, bounds, and symmetry") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ovm").toString
    // srcA/srcB share exactly the shingles of "a b c d" ∩ "a b c e" =
    // {"a b c"}; srcC is disjoint; srcD duplicates srcA's text (distinct
    // collapses the per-source set, so totals count UNIQUE shingles).
    Seq(
      (1L, "a b c d", "en", "srcA", 7L),
      (2L, "a b c d", "en", "srcA", 7L), // dup inside srcA — no double count
      (3L, "a b c e", "en", "srcB", 7L),
      (4L, "x y z w", "en", "srcC", 7L),
      (5L, "a b c d", "en", "srcD", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.overlapMatrix(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // "a b c d" → shingles {"a b c", "b c d"}; "a b c e" → {"a b c", "b c e"}
    assert(got(("srcA", "srcB")) == ((1L, 2L, 2L)))
    assert(got(("srcA", "srcD")) == ((2L, 2L, 2L))) // identical sets
    assert(got(("srcB", "srcD")) == ((1L, 2L, 2L)))
    assert(!got.contains(("srcA", "srcC")) && !got.contains(("srcB", "srcC")),
      "disjoint sources must not emit a pair")
    // bounds every real matrix must satisfy
    got.foreach { case ((a, b), (shared, at, bt)) =>
      assert(a < b, "pairs are canonically ordered")
      assert(shared >= 1 && shared <= math.min(at, bt))
    }
  }

  /** Tiny embeddings.parquet fixture: (vec_id, 64-dim vector) rows. */
  private def embCorpus(rows: (Long, Array[Float])*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-embs").toString
    rows.toSeq.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private val vA = Array.tabulate(64)(i => (math.sin(i + 1) * 0.1).toFloat)
  private val vB = Array.tabulate(64)(i => (math.cos(i + 1) * 0.1).toFloat)
  private val vC = Array.tabulate(64)(i =>
    (if (i % 2 == 0) 0.1 else -0.1).toFloat)

  test("streamLshBits: expected-corpus width lands on the probe-validated " +
      "flat setting and is frozen per stream") {
    // the r13 100x probe (BASELINE.md): N = 200k vectors — per-fraction
    // adaptive widths (19-21) made epochs GROW via the hist x delta
    // collision term; bits = 24 was flat with identical survivors. The
    // constant-collision-budget formula must land exactly there.
    assert(Dedup.streamLshBits(200000L, 4, 2) == 24)
    // monotone in N; capped at 32 (the signature is an int)
    assert(Dedup.streamLshBits(10L) <= Dedup.streamLshBits(200000L))
    assert(Dedup.streamLshBits(200000L) <= Dedup.streamLshBits(20000000L))
    assert(Dedup.streamLshBits(Long.MaxValue / 4) <= 32)
    // never below the single-query adaptive width: the stream pays AT
    // LEAST the one-shot candidate-fraction cost
    assert(Dedup.streamLshBits(200000L, 4, 2) >=
      graft.ops.Similarity.adaptiveLshBits(200000L, 4, 2))
  }

  test("streaming embedding-LSH: survivor rule drops the later side of a " +
      "verified pair, index carries vectors, replay idempotent") {
    import org.apache.spark.sql.functions.col
    val dir = embCorpus((1L, vA), (2L, vB), (3L, vA), (4L, vC))
    val statePath =
      java.nio.file.Files.createTempDirectory("graft-embstream-spec")
        .toString + "/state"
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    Dedup.embeddingStreamApplyBatch(vecs.filter(col("vec_id") <= 2), 0L,
      statePath, threshold = 0.99, compactEvery = 2)
    val b1 = vecs.filter(col("vec_id") > 2)
    Dedup.embeddingStreamApplyBatch(b1, 1L, statePath,
      threshold = 0.99, compactEvery = 2)
    def surv() = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/survivors", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    val first = surv()
    // vec 3 is an exact copy of vec 1 (identical signatures in every
    // table → candidate; cosine 1.0 > 0.99) → dropped; 2 and 4 are
    // unrelated directions → kept
    assert(first == Set(1L, 2L, 4L), s"survivors: $first")
    // the signature index is SLIM; vectors live once each in the
    // range-partitioned store (the minhash shingle-store architecture —
    // payload-on-index-rows measured super-linear at 100×)
    val idx = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/index", 1L): _*)
    assert(idx.columns.toSet == Set("vec_id", "table", "sig0"))
    assert(idx.select(col("vec_id")).distinct().count() == 4)
    val store = spark.read.parquet(
      graft.tools.RangeState.pathsAsOf(s"$statePath/vectors", 1L): _*)
    assert(store.columns.toSet == Set("vec_id", "embedding"))
    assert(store.select(col("vec_id")).distinct().count() == 4)
    // at-least-once replay of the last batch rewrites identical state
    Dedup.embeddingStreamApplyBatch(b1, 1L, statePath,
      threshold = 0.99, compactEvery = 2)
    assert(surv() == first)
    graft.tools.TempDirs.deleteRecursively(statePath.stripSuffix("/state"))
  }

  test("embedding stream: signature width is frozen — a conflicting " +
      "explicit width fails fast, and state without a width record " +
      "refuses to run") {
    import org.apache.spark.sql.functions.col
    val dir = embCorpus((1L, vA), (2L, vB), (3L, vA), (4L, vC))
    val statePath =
      java.nio.file.Files.createTempDirectory("graft-embfreeze-spec")
        .toString + "/state"
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    Dedup.embeddingStreamApplyBatch(vecs.filter(col("vec_id") <= 2), 0L,
      statePath, threshold = 0.99, bits = 10, compactEvery = 2)
    // explicit width is recorded even when passed (not only derived)
    val f = java.nio.file.Paths.get(statePath, "_lsh_bits")
    assert(java.nio.file.Files.exists(f))
    // conflicting explicit width on the next batch: historical
    // signatures only match at their build width -> hard error, never a
    // silent recall hole
    val e1 = intercept[IllegalStateException] {
      Dedup.embeddingStreamApplyBatch(vecs.filter(col("vec_id") > 2), 1L,
        statePath, threshold = 0.99, bits = 12, compactEvery = 2)
    }
    assert(e1.getMessage.contains("width conflict"))
    // same mismatch via the default (derived) width: derived != 10 here
    // would also conflict — the frozen file wins either way; matching
    // explicit width still runs
    Dedup.embeddingStreamApplyBatch(vecs.filter(col("vec_id") > 2), 1L,
      statePath, threshold = 0.99, bits = 10, compactEvery = 2)
    // a lost width record with live state refuses to guess
    java.nio.file.Files.delete(f)
    val e2 = intercept[IllegalStateException] {
      Dedup.embeddingStreamApplyBatch(vecs.filter(col("vec_id") > 2), 2L,
        statePath, threshold = 0.99, compactEvery = 2)
    }
    assert(e2.getMessage.contains("no _lsh_bits"))
    graft.tools.TempDirs.deleteRecursively(statePath.stripSuffix("/state"))
  }

  test("streaming embedding-LSH under lateness: late vector quarantined, " +
      "never indexed; survivors from on-time vectors only") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val dir = embCorpus((1L, vA), (2L, vB), (3L, vC), (4L, vA))
    val root =
      java.nio.file.Files.createTempDirectory("graft-lateemb").toString
    val (lateState, dedupState) = (s"$root/late", s"$root/state")
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    def applyLate(batch: DataFrame, epoch: Long): Unit =
      lateApply(batch, epoch, lateState, latenessMicros = 2000000L) { onTime =>
        Dedup.embeddingStreamApplyBatch(onTime.select(col("vec_id"),
          col("embedding")), epoch, dedupState, threshold = 0.99)
      }
    applyLate(
      vecs.filter(col("vec_id") <= 2)
        .withColumn("ts_us", col("vec_id") * 1000000L + 9000000L), 0L)
    // vec 3 arrives LATE (5s < wm(0)=9s); vec 4 (copy of 1) on time
    applyLate(
      vecs.filter(col("vec_id") > 2)
        .withColumn("ts_us", when(col("vec_id") === 3L, lit(5000000L))
          .otherwise(lit(12000000L))), 1L)
    val idx = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$dedupState/index", 1L): _*)
      .select(col("vec_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(idx == Set(1L, 2L, 4L), s"late vector leaked into the index: $idx")
    val surv = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$dedupState/survivors", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    assert(!surv.contains(3L) && !surv.contains(4L) && surv.contains(1L))
    assert(graft.ops.CdcUpsert.quarantineAsOf(spark, lateState, 1L).get
      .select(col("vec_id")).collect().map(_.getLong(0)).toSeq == Seq(3L))
    graft.tools.TempDirs.deleteRecursively(root)
  }

  test("late streaming gates: simhash-late row set equals minhash-late " +
      "(the shared-oracle claim), embedding-late quarantine is the " +
      "planted late cohort and disjoint from survivors") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val mh = rows(Dedup.minhashStreamLateClustered(spark, ""))
    val sh = rows(Dedup.simhashStreamLateClustered(spark, ""))
    // exact replicas → Hamming 0 ⇒ both hash families resolve the same
    // keep-first survivor set AND the same quarantine (shared protocol)
    assert(sh == mh, s"simhash-late diverged from minhash-late: " +
      s"${(sh diff mh) ++ (mh diff sh)}")
    val embOut = rows(Dedup.embeddingStreamLateClustered(spark, ""))
    val (quar, surv) = embOut.partition(_._2 >= 0L)
    assert(quar.nonEmpty && surv.nonEmpty, s"both paths must be " +
      s"exercised: ${quar.size} quarantined / ${surv.size} survivors")
    // the planted scheme only marks vec_id % 7 == 3 in epochs >= 2 late
    assert(quar.forall { case (id, ep) => id % 7 == 3 && ep >= 2 },
      s"quarantine outside the planted cohort: $quar")
    assert(quar.map(_._1).intersect(surv.map(_._1)).isEmpty,
      "a vector cannot be both quarantined and a survivor")
  }

  test("late clustered gates replay the id tail when epochs does not " +
      "divide the corpus: every probe is a survivor or a quarantine row") {
    for (gate <- Seq(Dedup.minhashStreamLateClustered _,
                     Dedup.simhashStreamLateClustered _)) {
      val ids = gate(spark, "", 3, graft.ops.Corpus.StreamLatenessMicros)
        .collect().map(_.getLong(0)).toSet
      val missing = (120L until 140L).filterNot(ids.contains)
      assert(missing.isEmpty, s"probes neither kept nor quarantined: $missing")
    }
  }

  test("exact dedup under TTL: expired epochs physically evicted, a " +
      "re-sighting refreshes the window, replay idempotent, and the " +
      "gate's rescued cohort is exactly the planted one") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    Seq((0L, "alpha"), (1L, "beta"), (2L, "alpha"), (3L, "alpha"),
      (4L, "beta"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft-ttlst").toString
    val st = s"$root/state"
    def batch(ids: Long*) = docs.filter(col("doc_id").isin(ids: _*))
    // e0: alpha(0), beta(1) survive; e1: alpha(2) caught AND refreshes;
    // e2: alpha(3) caught (refreshed by 2), beta(4) RESCUED (1 expired)
    Dedup.exactStreamTtlApplyBatch(batch(0L, 1L), 0L, st, ttl = 1)
    Dedup.exactStreamTtlApplyBatch(batch(2L), 1L, st, ttl = 1)
    Dedup.exactStreamTtlApplyBatch(batch(3L, 4L), 2L, st, ttl = 1)
    def surv() = spark.read.parquet(graft.tools.LogState.pathsAsOf(
        s"$st/survivors", 2L): _*).collect().map(_.getLong(0)).toSet
    assert(surv() == Set(0L, 1L, 4L),
      s"refresh semantics: 3 caught via 2's refresh, 4 rescued: ${surv()}")
    // physical eviction: only the last ttl+1 epochs' digest dirs remain
    def digDirs() = Option(new java.io.File(s"$st/digests/delta").listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    assert(digDirs() == Set("v1", "v2"), s"eviction leaked: ${digDirs()}")
    // replay of the last epoch rewrites identical state
    Dedup.exactStreamTtlApplyBatch(batch(3L, 4L), 2L, st, ttl = 1)
    assert(surv() == Set(0L, 1L, 4L) && digDirs() == Set("v1", "v2"))
    // the clustered gate's rescued cohort: second copies of bases 30-34
    // (ids 70-74) and third copies of bases 25-29 (ids 105-109)
    val gate = Dedup.exactStreamTtlClustered(spark, "")
      .collect().map(_.getLong(0)).toSet
    val expected = (0L until 40L).toSet ++ (70L until 75L) ++
      (105L until 110L) ++ (120L until 140L)
    assert(gate == expected, s"gate survivors: " +
      s"extra=${(gate diff expected).toSeq.sorted} " +
      s"missing=${(expected diff gate).toSeq.sorted}")
    graft.tools.TempDirs.deleteRecursively(root)
    graft.tools.TempDirs.deleteRecursively(dir)
  }

  test("clustered streaming gates (minhash + embedding) reproduce the " +
      "exact survivor sets their oracles synthesize") {
    val mh = Dedup.minhashStreamClustered(spark, "")
      .collect().map(_.getLong(0)).toSet
    assert(mh == ((0L until 40L) ++ (120L until 140L)).toSet,
      s"minhash stream survivors wrong: ${mh.size} ids")
    val emb = Dedup.embeddingStreamClustered(spark, "")
      .collect().map(_.getLong(0)).toSet
    assert(emb == (0L until 10L).toSet,
      s"embedding stream survivors wrong: $emb")
  }

  test("semantic dedup: anti-join keep-first drops the whole chain, " +
      "orthogonal vectors survive") {
    // θ-chain on a 2-plane: cos(u,v)=cos 18° ≈ 0.951 ≥ 0.95,
    // cos(v,w)=cos 18° ≥ 0.95, cos(u,w)=cos 36° ≈ 0.809 < 0.95.
    // Keep-first-by-id anti-join: 2 drops (earlier 1 is ≥ eps) and 3
    // drops too (earlier 2 is ≥ eps even though 2 itself dropped) —
    // the documented difference from sequential greedy, pinned here.
    def planar(theta: Double): Array[Float] = {
      val a = new Array[Float](64)
      a(0) = math.cos(theta).toFloat; a(1) = math.sin(theta).toFloat
      a
    }
    val ortho = { val a = new Array[Float](64); a(2) = 1.0f; a }
    val rad = math.Pi / 10 // 18 degrees
    val dir = embCorpus((1L, planar(0)), (2L, planar(rad)),
      (3L, planar(2 * rad)), (4L, ortho))
    val surv = Dedup.semanticDedup(spark, Tables.embeddings(spark, dir),
      k = 1, iterations = 1, eps = 0.95)
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 4L), s"survivors: $surv")
  }

  test("semantic dedup clustered regime: survivors are exactly the first " +
      "copy of each mod-70 identity class") {
    val surv = Dedup.semanticDedupClustered(spark, "")
      .collect().map(_.getLong(0)).toSet
    assert(surv == (0L until 70L).toSet,
      s"expected {0..69}, got ${surv.size} ids")
  }

  test("incremental semantic dedup equals the full rebuild under the " +
      "frozen history-trained quantizer") {
    val incr = Dedup.semanticDedupIncrClustered(spark, "")
      .collect().map(_.getLong(0)).toSeq
    val full = Dedup.semanticDedupClustered(spark, "")
      .collect().map(_.getLong(0)).toSeq
    assert(incr == full, s"incremental diverged: ${incr.size} vs ${full.size}")
  }

  test("streaming semantic dedup: batch-0-trained quantizer, pruned " +
      "member reads, replay idempotent") {
    import org.apache.spark.sql.functions.col
    // two tight directions (1≈3 at cosine 1.0, 2 separate, 4 separate)
    val dir = embCorpus((1L, vA), (2L, vB), (3L, vA), (4L, vC))
    val statePath =
      java.nio.file.Files.createTempDirectory("graft-semstream-spec")
        .toString + "/state"
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    Dedup.semanticStreamApplyBatch(vecs.filter(col("vec_id") <= 2), 0L,
      statePath, k = 3, iterations = 2, eps = 0.9999, compactEvery = 2)
    val b1 = vecs.filter(col("vec_id") > 2)
    Dedup.semanticStreamApplyBatch(b1, 1L, statePath,
      k = 3, iterations = 2, eps = 0.9999, compactEvery = 2)
    def surv() = spark.read.parquet(
      graft.tools.LogState.pathsAsOf(s"$statePath/survivors", 1L): _*)
      .collect().map(_.getLong(0)).toSet
    val first = surv()
    // vec 3 is an exact copy of vec 1: same cluster under any
    // quantizer, cosine 1.0 ≥ eps → dropped; 2 and 4 survive
    assert(first == Set(1L, 2L, 4L), s"survivors: $first")
    // member store: one row per vector, vector rides the row
    val store = spark.read.parquet(
      graft.tools.RangeState.pathsAsOf(s"$statePath/members", 1L): _*)
    assert(store.columns.toSet == Set("cluster_id", "vec_id", "v"))
    assert(store.select(col("vec_id")).distinct().count() == 4)
    // at-least-once replay of the last batch rewrites identical state
    Dedup.semanticStreamApplyBatch(b1, 1L, statePath,
      k = 3, iterations = 2, eps = 0.9999, compactEvery = 2)
    assert(surv() == first)
    graft.tools.TempDirs.deleteRecursively(statePath.stripSuffix("/state"))
  }
}

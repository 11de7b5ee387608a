package graft

import graft.ops.Dedup
import graft.tools.{LogState, TempDirs}

/** The banded-Hamming near-dup family (64-bit fingerprint, 4×16-bit
  * bands, `bit_count(xor)` verify) at its bucket cap: the incremental
  * refresh retracts what a crossing delta invalidates, and the stream
  * core keeps the decisions it already published. */
class HammingDedupSpec extends SparkSpec {
  import spark.implicits._

  /** A documents.parquet in a temp dir from (doc_id, text) pairs. */
  private def corpus(rows: (Long, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.toSeq
      .map { case (id, t) => (id, t, "en", s"src${id % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away home tonight"
  private val unrelated =
    "completely different content about spark shuffles and partitions in clusters now"

  test("incremental simhash and fingerprint refresh retract historical " +
      "pairs when the delta crosses the bucket cap") {
    // Identical docs 1–6 share EVERY band key. History = {1..4}: bucket
    // size 4 ≤ cap 4, so the history build pairs all C(4,2) = 6. The
    // delta {5, 6} pushes every one of those buckets to 6 > 4 — a full
    // rebuild at cap 4 pairs none of them, so the refresh must RETRACT
    // all six. The pair {7, 8} sits in its own buckets and comes through
    // as a delta pair.
    val dir = corpus((1L, base), (2L, base), (3L, base), (4L, base),
      (5L, base), (6L, base), (7L, unrelated), (8L, unrelated))
    val histDocs = Tables.documents(spark, dir).filter("doc_id < 5")
    assert(pairs(Dedup.simhashOf(histDocs, 3, 4, sorted = true)).size == 6,
      "the history pair set must hold the capped cluster's pairs")
    val incr = pairs(Dedup.simhashIncremental(spark, dir, splitId = 5,
      maxBucket = 4))
    assert(incr == pairs(Dedup.simhash(spark, dir, maxBucket = 4)))
    assert(incr == Seq((7L, 8L, 0)),
      s"capped-cluster pairs must be retracted, got $incr")

    // the same over raw fingerprints: 1–6 identical; 8 is 7 with one bit
    // flipped, and 7/8 differ from 1–6 in every 16-bit band
    val dup = 0x0123456789abcdefL
    val other = 0x7edcba9876543210L
    val fps = ((1L to 6L).map(_ -> dup) ++
      Seq(7L -> other, 8L -> (other ^ 1L))).toDF("doc_id", "fp")
    val hist = fps.filter("doc_id < 5")
    assert(pairs(Dedup.fingerprintNearDup(hist, 3, 4, sorted = true)).size == 6)
    val fIncr = pairs(Dedup.fingerprintIncremental(hist,
      fps.filter("doc_id >= 5"), maxBucket = 4))
    assert(fIncr == pairs(Dedup.fingerprintNearDup(fps, 3, 4, sorted = true)))
    assert(fIncr == Seq((7L, 8L, 1)),
      s"capped-cluster pairs must be retracted, got $fIncr")
  }

  test("fingerprint stream core: the bucket cap is ingest-time — a later " +
      "crossing keeps published decisions") {
    // cap 2: epoch 0 brings identical docs 1 and 2 (bucket size 2, so 2
    // is a dup of 1); epoch 1 brings a third copy, doc 3 — the combined
    // bucket is 3 > 2, so 3 has no candidate and survives, while 2 stays
    // dropped (a stream cannot un-publish)
    val fp = 0x0123456789abcdefL
    val root = java.nio.file.Files.createTempDirectory("graft-hamming-stream")
      .toString
    try {
      Dedup.fingerprintStreamApplyBatch(Seq(1L -> fp, 2L -> fp)
        .toDF("doc_id", "fp"), 0L, s"$root/state", maxBucket = 2)
      Dedup.fingerprintStreamApplyBatch(Seq(3L -> fp).toDF("doc_id", "fp"),
        1L, s"$root/state", maxBucket = 2)
      val surv = LogState.readAsOf(spark, s"$root/state/survivors", 1L)
        .collect().map(_.getLong(0)).toSet
      assert(surv == Set(1L, 3L), s"ingest-time cap survivors: $surv")
    } finally TempDirs.deleteRecursively(root)
  }
}

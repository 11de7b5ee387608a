package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared core of the STREAMING stratified top-K operators (per-domain
  * document caps, per-language balance caps): maintain, per stratum, the
  * K smallest (ord, doc_id) candidates under incremental arrival.
  *
  * Top-K-merge is a commutative, associative, idempotent monoid, so the
  * state is an append-only candidate log whose fold (and compaction) is
  * [[topK]] — any base/delta split gives the same answer (the LogState
  * contract). md5 rank is NOT prefix-closed under arrival order, so
  * admission is revisable: a later arrival with a smaller rank DISPLACES
  * an earlier winner at fold time and compaction physically drops the
  * loser — which is exactly what makes the folded view equal the batch
  * md5-rank sample. Per-epoch delta = the batch's own per-stratum top-K
  * (≤ K rows per touched stratum — only they can ever enter the final
  * set), so per-epoch cost is one batch-sized TwoLevel bucket rank and
  * compaction inputs are bounded by K·strata + K·touched·epochs-since-
  * base, never the corpus. */
private[ops] object TopKStream {

  /** The per-stratum top-K fold over (stratum, ord, doc_id) rows — the
    * schedule-invariant monoid readers and compaction share. Rank via
    * the TwoLevel md5-bucket decomposition: no per-stratum global sort
    * even when one stratum dominates. */
  def topK(cands: DataFrame, stratum: String, k: Int): DataFrame =
    TwoLevel.rank(
        cands.withColumn("__cb",
          substring(col("ord"), 1, TwoLevel.Md5PrefixChars)),
        Seq(stratum), "__cb", Seq(col("ord"), col("doc_id")), "__crk")
      .filter(col("__crk") <= k)
      .select(col(stratum), col("ord"), col("doc_id"))

  /** One micro-batch: append the batch's per-stratum top-K to the `cand`
    * log under `statePath`, fold/GC on the compaction schedule. The
    * caller supplies `cands` already shaped as (stratum, ord, doc_id).
    * Epoch-keyed overwrite derived from the batch alone — replay
    * rewrites identical files. */
  def applyBatch(cands: DataFrame, epoch: Long, statePath: String,
                 stratum: String, k: Int, compactEvery: Int): Unit = {
    val sp = cands.sparkSession
    val root = s"$statePath/cand"
    graft.tools.LogState.requireNoFuture(root, epoch)
    topK(cands, stratum, k).write.mode("overwrite")
      .parquet(s"$root/delta/v$epoch")
    graft.tools.LogState.maintain(sp, Seq(root), epoch, compactEvery)(
      topK(_, stratum, k))
  }

  /** The folded winner set as of `upTo` with contiguous ranks 1..≤K per
    * stratum; None before the first batch. */
  def rankedAsOf(sp: SparkSession, statePath: String, upTo: Long,
                 stratum: String, k: Int): Option[DataFrame] = {
    val root = s"$statePath/cand"
    val paths = graft.tools.LogState.pathsAsOf(root, upTo)
    if (paths.isEmpty) None
    else Some(TwoLevel.rank(
      topK(graft.tools.LogState.read(sp, root, paths), stratum, k)
        .withColumn("__cb",
          substring(col("ord"), 1, TwoLevel.Md5PrefixChars)),
      Seq(stratum), "__cb", Seq(col("ord"), col("doc_id")), "rk"))
  }
}

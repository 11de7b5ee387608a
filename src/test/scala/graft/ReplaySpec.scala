package graft

import graft.tools.{LogState, StateCache}
import graft.tools.StateCache.{Mod, Range, Slicing}

/** [[StateCache.replay]], the epoch-replay driver under the streaming
  * gates: every input row lands in exactly one epoch, [[Range]] keeps
  * the fixed-width batches of the gates it replaced, and the key it
  * derives rebuilds exactly when a shaping input changes. */
class ReplaySpec extends SparkSpec {

  /** Epoch → the ids the driver handed `apply`, on `spark.range(n)`. */
  private def slices(phase: String, n: Long, epochs: Int,
                     slicing: Slicing): Map[Int, Seq[Long]] = {
    val seen = scala.collection.mutable.Map[Int, Seq[Long]]()
    StateCache.replay(phase, None, epochs, slicing, None, n)(
        spark.range(n).toDF("doc_id")) { (b, k, _) =>
      seen(k) = b.collect().map(_.getLong(0)).sorted.toSeq
    }
    seen.toMap
  }

  test("every input row lands in exactly one epoch, under Range and Mod") {
    for ((n, e) <- Seq((140L, 4), (140L, 3), (200L, 5), (200L, 3), (7L, 4));
         s <- Seq(Range("doc_id"), Mod("doc_id"))) {
      val got = slices("replay_spec_cover", n, e, s)
      assert(got.keySet == (0 until e).toSet, s"$s at ($n, $e)")
      assert(got.values.flatten.toSeq.sorted == (0L until n),
        s"$s at ($n, $e): rows dropped or replayed twice")
      if (s.isInstanceOf[Mod])
        assert(got.forall { case (k, ids) => ids.forall(_ % e == k) })
    }
  }

  test("Range equals the old fixed-width-plus-tail batches wherever " +
      "epochs divides N") {
    for ((n, e) <- Seq((140L, 4), (140L, 7), (200L, 4), (200L, 5))) {
      val width = n / e
      // the replaced rule: id >= k·width && (id < (k+1)·width || k last)
      val old = (0L until n)
        .groupBy(id => math.min(id / width, e - 1L).toInt)
        .map { case (k, ids) => k -> ids.sorted.toSeq }
      assert(slices("replay_spec_range", n, e, Range("doc_id")) == old,
        s"($n, $e)")
    }
  }

  test("the derived key: the same call builds once; another epochs, " +
      "listed param or lateness builds a new state dir") {
    var builds = 0
    def run(epochs: Int, lateness: Option[Long], param: Int): String =
      StateCache.replay("replay_spec_key", None, epochs, Range("doc_id"),
          lateness, param)(spark.range(20).toDF("doc_id")) { (b, k, _) =>
        assert(b.columns.toSeq == Seq("doc_id"))
        if (k == 0) builds += 1
      }
    val first = run(4, None, 1)
    assert(run(4, None, 1) == first && builds == 1)
    val others = Seq(run(5, None, 1), run(4, None, 2), run(4, Some(1000000L), 1))
    assert(builds == 4 && (first +: others).distinct.size == 4)
  }

  test("rewriting the corpus dir in place rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    def write(n: Long): Unit = spark.range(n).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    def run(): Seq[Long] = {
      val root = StateCache.replay("replay_spec_corpus", Some(dir), 2,
          Mod("doc_id"), None)(Tables.parquet(spark, s"$dir/t.parquet")) {
        (b, k, st) => b.write.mode("overwrite").parquet(s"$st/delta/v$k")
      }
      LogState.readAsOf(spark, s"$root/state", 1L)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    try {
      write(6)
      assert(run() == (0L until 6))
      write(9)
      assert(run() == (0L until 9), "served state built from the old contents")
    } finally graft.tools.TempDirs.deleteRecursively(dir)
  }
}

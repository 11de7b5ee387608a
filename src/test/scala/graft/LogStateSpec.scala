package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.CdcUpsert
import graft.tools.LogState

/** Crash safety of [[graft.tools.LogState]] compaction — the kill window
  * VERDICT r17 #3 names: the r17 driver kill (SIGTERM at the bench's hour
  * mark) landed exactly inside a `maintain` base write, the one window the
  * sink-side crash-replay specs did not model for compaction. An aborted
  * FileFormatWriter leaves the new base dir with `_temporary` attempt
  * files only (nothing committed, no `_SUCCESS`); the layout contract
  * must make that partial dir invisible to committed readers, inert to a
  * replay's fold inputs and GC licensing, and gone after the replay
  * overwrites it. Driven through the real CDC apply body so the spec
  * exercises the production write/maintain path, not a reimplementation. */
class LogStateSpec extends SparkSpec {

  // deterministic 6-way split of the events table — same recipe as
  // MorUpsertSpec, so batch 5 is the (5+1) % 2 == 0 compaction epoch
  private def batches: Seq[DataFrame] = {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    (0 until 6).map(i => ev.filter(pmod(col("event_id"), lit(6)) === i))
  }

  private def runLoop(): String = {
    val statePath = TempDirsSpecHelper.fresh("graft-logstate-spec")
    batches.zipWithIndex.foreach { case (b, i) =>
      CdcUpsert.applyBatch(b, i.toLong, statePath, CdcUpsert.Mor(2))
    }
    statePath
  }

  private def stateRows(statePath: String, upTo: Long): Map[Long, (Long, Long)] =
    CdcUpsert.stateAsOf(spark, statePath, upTo, CdcUpsert.Mor(0)).get
      .select(col("user_id"), col("n_events"),
        unix_micros(col("last.ts")).as("last_us"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Replace `base/v5` with what a killed FileFormatWriter leaves behind:
    * the dir exists, holds only `_temporary` attempt scratch, commits
    * nothing. */
  private def abortBaseWrite(statePath: String): Unit = {
    val v5 = new java.io.File(s"$statePath/base/v5")
    graft.tools.TempDirs.deleteRecursively(v5.getAbsolutePath)
    assert(new java.io.File(v5, "_temporary/0").mkdirs())
  }

  test("compaction interrupted by process death: the partial base is " +
      "invisible to committed readers, excluded from the replay's fold " +
      "inputs, and overwritten whole by the replayed epoch") {
    val reference = runLoop() // an undisturbed run — the bitwise target
    val crashed = runLoop()   // same run, then batch 5's base write aborted
    try {
      val want = stateRows(reference, Long.MaxValue)
      assert(want.nonEmpty)
      // Post-batch-5 layout under Mor(2): base v3 (the replay floor GC
      // kept), base v5 (just compacted), deltas v4 and v5.
      assert(LogState.versions(crashed, "base") == Seq(3L, 5L))
      assert(LogState.versions(crashed, "delta") == Seq(4L, 5L))
      abortBaseWrite(crashed)

      // 1. Committed readers are unaffected: batch 4 is the newest
      // COMMITTED point (batch 5 never acked), and its as-of view never
      // touches the partial base/v5 — path math first, then the rows.
      assert(LogState.pathsAsOf(crashed, 4L) ==
        Seq(s"$crashed/base/v3", s"$crashed/delta/v4"))
      assert(stateRows(crashed, 4L) == stateRows(reference, 4L))

      // 2. The replay's fold inputs exclude base/v5 by construction —
      // a fold through pathsAsOf(5) would read the very partial dir the
      // overwrite is replacing (the self-overwrite race the scaladoc
      // names); compactionInputs folds committed state + the batch delta.
      val inputs = LogState.compactionInputs(crashed, 5L)
      assert(!inputs.contains(s"$crashed/base/v5"))
      assert(inputs == Seq(s"$crashed/base/v3", s"$crashed/delta/v4",
        s"$crashed/delta/v5"))

      // 3. The partial base cannot license GC: gc decisions only trust
      // bases at or below batchId − 1, so nothing the replay still needs
      // was deleted (delta v4/v5 and base v3 all survive the abort).
      LogState.gc(crashed, 5L)
      assert(LogState.versions(crashed, "delta") == Seq(4L, 5L))
      assert(LogState.versions(crashed, "base").contains(3L))

      // 4. Replaying the killed epoch (foreachBatch is at-least-once)
      // overwrites the partial dir and reproduces the reference bitwise.
      CdcUpsert.applyBatch(batches(5), 5L, crashed, CdcUpsert.Mor(2))
      assert(stateRows(crashed, Long.MaxValue) == want)
      assert(LogState.versions(crashed, "base") == Seq(3L, 5L))
      // the recompacted base is REAL now: readable and complete on its own
      val v5Rows = spark.read.parquet(s"$crashed/base/v5")
      assert(v5Rows.count() == want.size)
    } finally Seq(reference, crashed)
      .foreach(graft.tools.TempDirs.deleteRecursively)
  }

  test("a kill BEFORE the base write started (delta landed, no base dir) " +
      "replays identically — the other edge of the window") {
    val reference = runLoop()
    val crashed = runLoop()
    try {
      val want = stateRows(reference, Long.MaxValue)
      // erase base v5 entirely: the kill landed after the delta write
      // but before the compaction fold began
      graft.tools.TempDirs.deleteRecursively(s"$crashed/base/v5")
      assert(LogState.versions(crashed, "base") == Seq(3L))
      CdcUpsert.applyBatch(batches(5), 5L, crashed, CdcUpsert.Mor(2))
      assert(stateRows(crashed, Long.MaxValue) == want)
      assert(LogState.versions(crashed, "base") == Seq(3L, 5L))
    } finally Seq(reference, crashed)
      .foreach(graft.tools.TempDirs.deleteRecursively)
  }

  test("a log's schema is resolved once per log: a later epoch's read, " +
      "its compaction and the read after it run no schema-inference job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.GraftShim
    val root = TempDirsSpecHelper.fresh("graft-logschema-spec")
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add((Option(e.properties).map(_.getProperty("callSite.short", ""))
          .toSeq ++ e.stageInfos.map(_.name)).mkString(" | "))
    }
    /** Schema-inference jobs started while `body` runs. */
    def inferenceJobs[T](body: => T): (T, Int) = {
      GraftShim.waitListeners(spark)
      sites.clear()
      val out = body
      GraftShim.waitListeners(spark)
      (out, sites.toArray.count(_.toString.contains("Tables.scala")))
    }
    def writeDelta(v: Long): Unit =
      spark.range(v * 10, v * 10 + 10)
        .select(col("id").as("doc_id"), (col("id") % 3).as("band"))
        .write.mode("overwrite").parquet(s"$root/delta/v$v")
    spark.sparkContext.addSparkListener(l)
    try {
      writeDelta(0)
      val (_, first) = inferenceJobs(LogState.readAsOf(spark, root, 0))
      assert(first >= 1, "the first read of a log infers its schema")
      for (epoch <- 1L to 3L) {
        writeDelta(epoch)
        val paths = LogState.pathsAsOf(root, epoch)
        val (df, jobs) = inferenceJobs(LogState.readAsOf(spark, root, epoch))
        assert(jobs == 0, s"epoch $epoch re-inferred the log's schema")
        assert(df.schema == spark.read.parquet(paths: _*).schema)
        assert(df.count() == (epoch + 1) * 10)
        // epoch 1 compacts: its fold reads the log, and the base it
        // writes is read by epochs 2 and 3 without inference
        val (_, compactJobs) = inferenceJobs(
          LogState.maintain(spark, Seq(root), epoch, compactEvery = 2)(identity))
        assert(compactJobs == 0, s"epoch $epoch's compaction re-inferred")
      }
      assert(LogState.versions(root, "base") == Seq(1L, 3L))
    } finally {
      spark.sparkContext.removeSparkListener(l)
      graft.tools.TempDirs.deleteRecursively(new java.io.File(root).getParent)
    }
  }
}

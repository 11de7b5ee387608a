package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** KEY-RANGE-PARTITIONED log-structured state: `root/p=K/{base,delta}/vN`,
  * each partition an independent [[LogState]] log, routed by FROZEN range
  * boundaries persisted at `root/_boundaries`. Shared by the partitioned
  * CDC upsert (q96) and the streaming dedup's shingle store.
  *
  * Freezing is load-bearing: bucketing must be identical across batches
  * and across at-least-once replays, or a replay could route a key to a
  * different partition than the crashed attempt did and leave the
  * original as an orphan delta. The atomic-rename publish means a crash
  * during derivation leaves either no file (replay re-derives — no
  * partition write can have happened, boundaries are frozen before any)
  * or the complete file.
  *
  * RANGE, not hash: a hash spreads ANY batch over min(P, batch keys)
  * partitions, destroying the touched-partition bound for every non-tiny
  * batch. Ranges keep key-local traffic (recent users, one tenant's id
  * block, an id-ordered ingest stream) confined to the partitions that
  * own those ranges — the same reason lakehouse table layouts cluster by
  * business key. At 100 TB the per-batch `p=*` directory listing and the
  * delete-then-move publishes become a manifest commit (object stores
  * have no atomic dir rename); the fold/replay/GC contracts carry over
  * unchanged. */
object RangeState {

  /** The partition roots present under `root`, sorted. */
  def partDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p="))
      .map(_.getAbsolutePath).sorted.toSeq

  private def boundariesFile(root: String) =
    java.nio.file.Paths.get(root, "_boundaries")

  /** Frozen boundaries of an initialized state root. */
  def readBoundaries(root: String): Array[Long] = {
    val f = boundariesFile(root)
    require(java.nio.file.Files.exists(f),
      s"no _boundaries under $root — state not initialized")
    val text = new String(java.nio.file.Files.readAllBytes(f),
      java.nio.charset.StandardCharsets.UTF_8)
    if (text.isEmpty) Array.empty else text.split(",").map(_.toLong)
  }

  /** Write-once boundary freeze: persists `derive`'s result atomically if
    * no `_boundaries` exists yet, then returns the frozen set (which may
    * be an earlier run's — the file wins, by design). `derive` is by-name
    * so initialized roots never pay the derivation (often a Spark job). */
  def freeze(root: String, derive: => Array[Long]): Array[Long] = {
    val f = boundariesFile(root)
    if (!java.nio.file.Files.exists(f)) {
      val bounds = derive.distinct.sorted
      java.nio.file.Files.createDirectories(f.getParent)
      val tmp = java.nio.file.Paths.get(root, "_boundaries.tmp")
      java.nio.file.Files.write(tmp,
        bounds.mkString(",").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    readBoundaries(root)
  }

  /** Uniform boundaries over `[0, maxKey]` — the seed for key spaces known
    * to be dense (an id-ordered ingest stream); quantile-derived seeds
    * (see q96) fit skewed spaces. Strictly-increasing dedup means a tiny
    * span yields fewer effective partitions, never an empty range. */
  def freezeUniform(root: String, maxKey: => Long,
                    numPartitions: Int): Array[Long] =
    freeze(root, {
      val span = math.max(1L, maxKey)
      (1 until numPartitions).map(i => i * span / numPartitions)
        .filter(_ > 0).distinct.toArray
    })

  /** Partition of `key` under frozen `bounds`: the count of boundaries at
    * or below it. The Spark-side twin [[bucketCol]] must agree exactly
    * (routing and point-lookup pruning read the same layout). */
  def bucketOf(bounds: Array[Long], key: Long): Int = bounds.count(_ <= key)

  /** Codegen-friendly bucket expression: a sum of P−1 `when`s, not a HOF
    * lambda (HOF lambdas are CodegenFallback in Spark 4 — the interpreted
    * ~100× trap TextKernels documents) and not a UDF. */
  def bucketCol(bounds: Array[Long], key: Column): Column =
    bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(key >= lit(b), 1).otherwise(0)
    }

  /** Apply-time guard over every partition log (see
    * [[LogState.requireNoFuture]]). */
  def requireNoFuture(root: String, batchId: Long): Unit =
    partDirs(root).foreach(LogState.requireNoFuture(_, batchId))

  /** Publish one batch's delta into the partitioned layout: write
    * `delta` + bucket column `partitionBy("p")` to a stage dir — ONE job;
    * clustering by `p` first so each dir gets one file, not tasks × P
    * (measured 5.6× slower on a 64-partition full load without it) —
    * then move each staged dir to `p=K/delta/v(batchId)` with
    * delete-then-move. Idempotent under replay: frozen boundaries + a
    * deterministic delta mean a replay touches the same partition set
    * and overwrites the same dirs. Returns the touched partition roots. */
  def publishDelta(root: String, batchId: Long, delta: DataFrame,
                   pCol: Column): Seq[String] = {
    val stage = s"$root/.stage/v$batchId"
    delta.withColumn("p", pCol)
      .repartition(col("p"))
      .write.mode("overwrite").partitionBy("p").parquet(stage)
    val staged = Option(new java.io.File(stage).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p="))
      .sortBy(_.getName)
    val touched = staged.map { d =>
      val dst = java.nio.file.Paths.get(s"$root/${d.getName}/delta/v$batchId")
      java.nio.file.Files.createDirectories(dst.getParent)
      TempDirs.deleteRecursively(dst.toString)
      java.nio.file.Files.move(d.toPath, dst)
      s"$root/${d.getName}"
    }.toSeq
    TempDirs.deleteRecursively(s"$root/.stage")
    touched
  }

  /** Fan-in maintenance over exactly the partitions a batch touched (see
    * [[LogState.maintainFanIn]] for the per-partition trigger and replay
    * argument). Untouched partitions are never listed, read, or
    * rewritten. Returns how many compacted. */
  def maintainTouched(sp: SparkSession, touched: Seq[String], batchId: Long,
                      maxDeltas: Int)(fold: DataFrame => DataFrame): Int =
    touched.count(LogState.maintainFanIn(sp, _, batchId, maxDeltas)(fold))

  /** Parquet paths of the whole state as of `upTo`: per partition, the
    * newest base plus later deltas. Partitions are key-disjoint, so any
    * per-key fold over the union equals the per-partition folds. */
  def pathsAsOf(root: String, upTo: Long): Seq[String] =
    partDirs(root).flatMap(LogState.pathsAsOf(_, upTo))

  /** Paths of ONLY the given buckets' state — the pruned read: a consumer
    * that knows which key ranges it needs (a point lookup, a verify join
    * against a known candidate set) scans those partitions' logs, never
    * the table. Buckets with no state yet contribute nothing. */
  def pathsForBuckets(root: String, buckets: Seq[Int],
                      upTo: Long): Seq[String] =
    buckets.distinct.sorted.map(b => s"$root/p=$b")
      .filter(d => new java.io.File(d).isDirectory)
      .flatMap(LogState.pathsAsOf(_, upTo))

  /** The pruned read of a store routed by [[bucketCol]]: the buckets
    * holding the `key` values of `keys` (a tiny collect — at most one
    * row per partition), then those buckets' rows as of `upTo`, or
    * `empty` when none of them has state yet. Untouched partitions are
    * never listed or scanned. Returns the rows and the number of
    * buckets read, which each caller records under its own routing
    * names. */
  def readForKeys(sp: SparkSession, root: String, bounds: Array[Long],
                  keys: DataFrame, key: String, upTo: Long)
                 (empty: => DataFrame): (DataFrame, Int) = {
    val buckets = keys.select(bucketCol(bounds, col(key)).as("p"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val paths = pathsForBuckets(root, buckets, upTo)
    (if (paths.isEmpty) empty else LogState.read(sp, root, paths), buckets.size)
  }
}

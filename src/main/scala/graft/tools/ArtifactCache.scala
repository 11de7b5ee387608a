package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Train-once / read-many parquet artifacts (IVF quantizers, near-dup pair
  * graphs): the first call per (key, kind) runs `build` to persist the
  * artifact — recording the build duration as a bench phase — and every
  * later call reads it back. Build outputs must be deterministic so a
  * cached artifact equals a rebuilt one. Keys are corpus directory paths;
  * a content token of the directory is folded into every lookup, so a
  * corpus REBUILT IN PLACE under the same path (ScaleProbe re-running
  * with a different multiplier rewrites parquet under the same outDir)
  * invalidates the old artifacts instead of silently serving state built
  * from the previous contents (ADVICE r18). */
object ArtifactCache {
  // on the default temp dir, not tmpfs: artifacts can be large; deleted
  // at JVM exit, since no artifact is read across runs
  private lazy val root = {
    val d = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => TempDirs.deleteRecursively(d), "graft-clean-artifacts"))
    d
  }
  private val paths =
    scala.collection.concurrent.TrieMap[(String, String), String]()

  /** Deterministic content token of a path: sorted (relative path,
    * size, mtime-millis) over every regular file under it — a plain file
    * is its own one entry — MD5'd; `"absent"` when nothing is there.
    * Recomputed on every lookup — a fixture dir is tens of files, so the
    * walk is microseconds against any artifact build; caching the token
    * would re-open the stale-rebuild hole this exists to close. Per-file
    * races (a file vanishing mid-walk) are folded in as `?` markers
    * rather than thrown: a changing directory should yield a CHANGING
    * token, never a crash. Shared with [[graft.Tables.parquet]]'s schema
    * key. */
  def pathToken(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return "absent"
    val sb = new StringBuilder
    val walk = java.nio.file.Files.walk(p)
    try {
      walk.filter(java.nio.file.Files.isRegularFile(_)).sorted()
        .forEach { f =>
          sb.append(p.relativize(f)).append('|')
          try {
            sb.append(java.nio.file.Files.size(f)).append('|')
              .append(java.nio.file.Files.getLastModifiedTime(f).toMillis)
          } catch { case _: java.io.IOException => sb.append('?') }
          sb.append('\n')
        }
    } finally walk.close()
    java.security.MessageDigest.getInstance("MD5")
      .digest(sb.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  def parquet(spark: SparkSession, key: String, kind: String)
             (build: String => Unit): DataFrame = {
    val path = paths.getOrElseUpdate((s"$key@${pathToken(key)}", kind), {
      val p = s"$root/${key.replaceAll("[^A-Za-z0-9]", "_")}_${pathToken(key)}/$kind"
      val t0 = System.nanoTime()
      build(p)
      PhaseTiming.record(s"$kind.build", (System.nanoTime() - t0) / 1e9)
      p
    })
    graft.Tables.parquet(spark, path)
  }

  /** The registered path of an already-built artifact — for builders
    * that persist SIDE outputs next to the primary path (e.g. BPE's
    * final word table beside its merge table). None until the artifact's
    * first build this session. */
  def pathOf(key: String, kind: String): Option[String] =
    paths.get((s"$key@${pathToken(key)}", kind))

  private val driverSide =
    scala.collection.concurrent.TrieMap[(String, String), AnyRef]()

  /** Driver-side memo of a COLLECTED index artifact (centroid matrices,
    * codebooks): the parquet artifact above already builds once per
    * session, but a consumer that needs it as driver-side arrays paid a
    * read+collect JOB on every call — pure scheduler dispatch for a
    * kilobyte-sized index (measured: the PQ search re-collected its 8
    * subspace codebooks every iteration, ~32 of sim_topk_pq's 44 jobs).
    * Same freshness contract as [[parquet]]: the key folds in
    * [[pathToken]], so a corpus rebuilt in place re-collects. JVM-lifetime
    * only — nothing persists across runs, and the first call still pays
    * (and phase-records, via the artifact build) the real cost.
    *
    * Contract: a memoized value is SHARED — every caller on every thread
    * gets the same instance for the JVM lifetime, so no caller may
    * mutate it (an in-place edit of a codebook or a collected row array
    * would corrupt every later user). Treat it as read-only; copy before
    * changing anything. */
  def memo[T <: AnyRef](key: String, kind: String)(f: => T): T =
    driverSide.getOrElseUpdate((s"$key@${pathToken(key)}", kind), f)
      .asInstanceOf[T]
}

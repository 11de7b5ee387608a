package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned base/delta file layout for log-structured operator state —
  * the shared mechanics under the merge-on-read CDC upsert (q95) and the
  * streaming minhash dedup's band-index state.
  *
  * Layout under a state `root`:
  * {{{
  *   root/base/vN    — a compacted fold of all state as of batch N
  *   root/delta/vN   — batch N's append (one immutable file set per epoch)
  * }}}
  *
  * The state as of batch `upTo` is the newest base at or below `upTo`
  * plus every delta after it; how those paths FOLD is the operator's
  * business (q95 merges through its commutative monoid, the dedup index
  * is a plain union — both are schedule-invariant, which is what makes
  * `compactEvery` a pure performance dial).
  *
  * Replay contract (foreachBatch is at-least-once): every write is an
  * overwrite keyed by batchId deriving only from the engine-replayed
  * batch plus state strictly older than batchId, and [[gc]] deletes only
  * state below the newest base at or below batchId−1 — exactly what no
  * replay can ever read again (the engine replays at most the LAST
  * uncommitted batch; the base written by the current batch does not
  * license deletion until that batch commits). */
object LogState {

  /** Version numbers present under `root/kind`, ascending, ≤ `upTo`. */
  def versions(root: String, kind: String,
               upTo: Long = Long.MaxValue): Seq[Long] =
    Option(new java.io.File(s"$root/$kind").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.matches("v\\d+"))
      .map(_.getName.drop(1).toLong)
      .filter(_ <= upTo).sorted.toSeq

  /** Parquet paths reconstructing the state as of batch `upTo`: the
    * newest base ≤ `upTo` plus every delta after it. Empty before the
    * first delta lands. Throws if `upTo` predates the GC floor (state
    * exists but none of it is ≤ `upTo`): [[gc]] only deletes what no
    * replay of the CURRENT stream can read, so an as-of point below the
    * floor means a contract violation — e.g. a wiped checkpoint reusing
    * an old statePath, replaying batch 0 against GC'd history — and must
    * fail loudly, not read as "no state yet" and silently publish
    * results computed against empty history. */
  def pathsAsOf(root: String, upTo: Long): Seq[String] = {
    val base = versions(root, "base", upTo).lastOption
    val deltas = versions(root, "delta", upTo).filter(v => base.forall(_ < v))
    val paths = base.map(v => s"$root/base/v$v").toSeq ++
      deltas.map(v => s"$root/delta/v$v")
    // upTo < 0 is the legitimate "before any batch" read an apply-time
    // replay of batch 0 makes while its own crashed-attempt delta v0
    // still sits on disk — only a NON-negative as-of point that resolves
    // to nothing while state exists is below the floor
    require(upTo < 0 || paths.nonEmpty ||
      (versions(root, "base").isEmpty && versions(root, "delta").isEmpty),
      s"state under $root exists but none of it is at or below batch " +
        s"$upTo — the as-of point predates the GC floor (stale statePath " +
        "with a fresh checkpoint?)")
    paths
  }

  /** The state under `root` as of batch `upTo` as one frame — the
    * plain-union fold of [[pathsAsOf]], the read-back of the
    * append-only logs the streaming gates publish. */
  def readAsOf(sp: SparkSession, root: String, upTo: Long): DataFrame =
    read(sp, root, pathsAsOf(root, upTo))

  /** `paths` — a file set of the log under `root` ([[pathsAsOf]],
    * [[compactionInputs]], or a range-partitioned log's partition
    * slices) — read with the log's schema, resolved once per log.
    *
    * [[graft.Tables.parquet]] resolves a schema once per FILE SET, and
    * every epoch adds a delta to a log's file set, so each epoch's read
    * of a log missed that cache and ran a schema-inference job. A log's
    * schema is fixed by its writer: every base and delta of it is read
    * back under one schema already. So the schema inferred for one file
    * set of a log serves every later file set that shares a file set
    * with the last one read (same path, same [[ArtifactCache.pathToken]]
    * — the base or oldest delta carries over between epochs), and the
    * base a compaction writes joins the known sets ([[maintain]]). A
    * read sharing nothing with the last one (a log rewritten under the
    * same root, say) infers again, as do changed parquet confs. */
  def read(sp: SparkSession, root: String, paths: Seq[String]): DataFrame =
    sp.read.schema(schemaOf(sp, root, paths)).parquet(paths: _*)

  /** A log's schema, the file sets (`path@pathToken`) read or written
    * with it, and the parquet inference confs it was inferred under. */
  private final case class LogSchema(schema: StructType, sets: Set[String],
                                     confs: String)
  private val logSchemas = TrieMap[String, LogSchema]()
  // bounds, as for Tables' schema cache: logs per JVM, file sets per log
  private val MaxLogs = 4096
  private val MaxSets = 1024

  private def fileSets(paths: Seq[String]): Seq[String] =
    paths.map(p => s"$p@${ArtifactCache.pathToken(p)}").filterNot(_.endsWith("@absent"))

  private def schemaOf(sp: SparkSession, root: String, paths: Seq[String]): StructType = {
    val sets = fileSets(paths)
    val confs = graft.Tables.inferenceConfs(sp)
    val known = logSchemas.get(root).filter(k => k.confs == confs && sets.exists(k.sets))
    val schema = known.map(_.schema).getOrElse(graft.Tables.parquetSchema(sp, paths: _*))
    val seen = known.map(_.sets).filter(_.size < MaxSets).getOrElse(Set.empty[String])
    if (logSchemas.size >= MaxLogs) logSchemas.clear()
    logSchemas.put(root, LogSchema(schema, seen ++ sets, confs))
    schema
  }

  /** A base written by compaction folds the log it replaces, so it is
    * read with that log's schema: it joins the known file sets of every
    * log it lies under (a range-partitioned log's root as well as its
    * partition's). */
  private def knownBase(base: String): Unit = {
    val set = fileSets(Seq(base))
    logSchemas.foreach { case (root, k) =>
      if (base.startsWith(s"$root/")) logSchemas.put(root, k.copy(sets = k.sets ++ set))
    }
  }

  /** Apply-time guard: state NEWER than the batch being applied means the
    * stream went backwards — a wiped checkpoint reusing a stale
    * statePath. A replay may find its own batch's leftovers (they get
    * overwritten), never the future's. Call before reading history in a
    * foreachBatch body. */
  def requireNoFuture(root: String, batchId: Long): Unit = {
    val future = (versions(root, "base") ++ versions(root, "delta"))
      .filter(_ > batchId).sorted
    require(future.isEmpty,
      s"state under $root at versions $future is newer than batch " +
        s"$batchId — stale statePath with a fresh checkpoint?")
  }

  /** The batch's state maintenance, shared by every operator on this
    * layout: every `compactEvery` epochs, fold each root's
    * [[compactionInputs]] through the operator's `fold` into a new base
    * (all roots under one `compactNNN` phase so the amortized term is
    * visible in bench artifacts), then [[gc]] each root. `fold` must be
    * the same schedule-invariant fold readers apply — identity for
    * append-only tables, the merge monoid otherwise.
    *
    * KILL WINDOW (the r17 driver kill landed here, mid-`base/vN` write):
    * a process death during the base write leaves `base/vN` as a
    * partial dir (`_temporary` attempt files only — an aborted
    * FileFormatWriter commits nothing). That partial is invisible to
    * every committed reader ([[pathsAsOf]] at `N − 1`, the newest
    * committed point), is excluded from a replay's fold inputs by
    * construction ([[compactionInputs]] never includes `base/vN`
    * itself), cannot license [[gc]] (which only trusts bases at or
    * below `batchId − 1`), and is overwritten whole by the replay of
    * batch N. LogStateSpec pins all four properties. */
  def maintain(sp: SparkSession, roots: Seq[String], batchId: Long,
               compactEvery: Int)(fold: DataFrame => DataFrame): Unit = {
    if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
      val tc = System.nanoTime()
      roots.foreach { root =>
        fold(read(sp, root, compactionInputs(root, batchId)))
          .write.mode("overwrite").parquet(s"$root/base/v$batchId")
        knownBase(s"$root/base/v$batchId")
      }
      PhaseTiming.record(f"compact$batchId%03d",
        (System.nanoTime() - tc) / 1e9)
    }
    roots.foreach(gc(_, batchId))
  }

  /** Fan-in-triggered maintenance for ONE root — the per-partition
    * alternative to [[maintain]]'s global epoch schedule: compact when
    * THIS root's pending delta count (deltas above its newest base,
    * including the one batch `batchId` just wrote) reaches `maxDeltas`,
    * then [[gc]]. Callers invoke it only on roots the batch touched, so
    * an untouched partition's state is never listed, folded, or
    * rewritten — maintenance cost is ∝ touched-partition state, the
    * property that makes a partitioned state table pay off under
    * key-local traffic.
    *
    * Replay safety: the compact/skip decision counts deltas against the
    * newest base at or below `batchId − 1` — NEVER the base a crashed
    * attempt of this same batch may have written at `base/v(batchId)` —
    * so a replay reaches the same decision, folds the same
    * [[compactionInputs]] (which exclude that base by construction), and
    * overwrites the same output. `maxDeltas <= 0` disables compaction
    * (every delta survives, the pure write-optimized pole).
    *
    * Returns whether a compaction ran, so callers can phase-account the
    * amortized term separately from steady-state epoch cost. */
  def maintainFanIn(sp: SparkSession, root: String, batchId: Long,
                    maxDeltas: Int)(fold: DataFrame => DataFrame): Boolean = {
    val base = versions(root, "base", batchId - 1).lastOption
    val pending =
      versions(root, "delta", batchId).count(v => base.forall(_ < v))
    val compact = maxDeltas > 0 && pending >= maxDeltas
    if (compact) {
      fold(read(sp, root, compactionInputs(root, batchId)))
        .write.mode("overwrite").parquet(s"$root/base/v$batchId")
      knownBase(s"$root/base/v$batchId")
    }
    gc(root, batchId)
    compact
  }

  /** Parquet paths a batch-`batchId` COMPACTION must fold: the state as
    * of `batchId − 1` plus the delta the batch just wrote. Semantically
    * equal to [[pathsAsOf]]`(root, batchId)` in normal operation, but
    * NEVER includes `base/v(batchId)` itself — on an at-least-once replay
    * a stale base from the crashed attempt already sits at the output
    * path, and folding through [[pathsAsOf]] would read the very files
    * the overwrite is deleting (a self-overwrite race that is only
    * sometimes masked by a shuffle barrier in the fold). Uses the raw
    * path math, not [[pathsAsOf]]: a batch-0 compaction legitimately
    * folds while the only state is the delta batch 0 itself just wrote,
    * which the GC-floor guard would reject. */
  def compactionInputs(root: String, batchId: Long): Seq[String] = {
    val base = versions(root, "base", batchId - 1).lastOption
    val deltas =
      versions(root, "delta", batchId - 1).filter(v => base.forall(_ < v))
    base.map(v => s"$root/base/v$v").toSeq ++
      deltas.map(v => s"$root/delta/v$v") :+ s"$root/delta/v$batchId"
  }

  /** Drop state no replay of batch > `batchId` can read: everything below
    * the newest base at or below `batchId − 1` (deferred one batch — see
    * the replay contract above). No-op until a base that old exists. */
  def gc(root: String, batchId: Long): Unit =
    versions(root, "base", batchId - 1).lastOption.foreach { b =>
      def sweep(kind: String, cut: Long => Boolean): Unit =
        versions(root, kind).filter(cut)
          .foreach(v => TempDirs.deleteRecursively(s"$root/$kind/v$v"))
      sweep("base", _ < b)
      sweep("delta", _ <= b)
    }
}

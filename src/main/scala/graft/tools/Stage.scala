package graft.tools

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Mid-pipeline materialization with a cluster-survivable switch.
  *
  * Every multi-stage operator in this engine materializes intermediate
  * frames that are consumed more than once (survivor sets, fingerprint
  * frames, attrition stages). In the single-JVM sandbox the cheapest
  * correct materialization is `localCheckpoint()` — but its blocks are
  * UNREPLICATED and executor-local, and it truncates lineage, so on a
  * real cluster one lost executor makes the data unrecoverable and the
  * job fails (Spark documents exactly this trade). A multi-hour 100 TB
  * curation pass must not restart from zero because one of a thousand
  * executors was preempted.
  *
  * So: all materialization goes through [[stage]]/[[stageLazy]], and the
  * session conf `spark.graft.stage.mode` picks the mechanism:
  *
  *  - `local` (default): `localCheckpoint` — zero-copy into the block
  *    manager, optimal when executor loss is impossible (local mode) or
  *    recompute-from-source is acceptable.
  *  - `reliable`: `Dataset.checkpoint` — blocks written to the
  *    checkpoint directory (HDFS/object store on a cluster), survive any
  *    executor loss; lineage truncation is then safe. The checkpoint dir
  *    is taken from the SparkContext if set, else initialized to a
  *    JVM-lifetime scratch dir (a cluster deployment sets a durable one
  *    via `spark.sparkContext.setCheckpointDir`).
  *  - `persist`: `persist(MEMORY_AND_DISK)` — no lineage truncation at
  *    all, so a lost block is recomputed from source. Cheapest reliable
  *    option when the lineage upstream of the stage point is itself
  *    cheap to replay; NOT suitable where the operator depends on the
  *    materialization for plan-stability (e.g. breaking a
  *    self-referential stream state read — those sites document it).
  *
  * All three produce bitwise-identical query results
  * (`StageSpec`'s "mode equivalence" tests pin one gated query per heavy
  * family in `local` vs `reliable`); only the failure-recovery story
  * differs.
  */
object Stage {

  /** Session conf key selecting the materialization mechanism. */
  val ModeKey = "spark.graft.stage.mode"

  private def mode[T](ds: Dataset[T]): String =
    ds.sparkSession.conf.get(ModeKey, "local")

  private def ensureCheckpointDir[T](ds: Dataset[T]): Unit = {
    val sc = ds.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(TempDirs.createFastForJvm("graft-reliable-ckpt"))
  }

  private def materialize[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    mode(ds) match {
      case "reliable" =>
        ensureCheckpointDir(ds)
        ds.checkpoint(eager)
      case "persist" =>
        val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) p.count()
        p
      case _ => ds.localCheckpoint(eager)
    }

  /** `.stage()` / `.stageLazy()` as method syntax, so operator code reads
    * the same as the raw `localCheckpoint` calls it replaces. */
  implicit class StageOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** Eagerly materialize `ds` under the configured mode. */
    def stage(): Dataset[T] = materialize(ds, eager = true)
    /** Lazily materialize: the plan is truncated now, blocks land on
      * first action (for frames that are conditionally consumed). */
    def stageLazy(): Dataset[T] = materialize(ds, eager = false)
  }
}

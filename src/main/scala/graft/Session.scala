package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: every main (Bench, Verify, the probe
  * tools) and the test suite start from this list of run settings, so a
  * plan dumped or profiled by a tool is the plan the bench executes.
  * Deliberately does NOT install [[GraftExtensions]] — no run path has
  * them, and adding them would change the plans Bench and Verify run. */
object Session {

  val CpusEnv = "SPARK_GRAFT_CPUS"

  /** Parses a core count; anything but a positive integer fails with a
    * message naming the variable, before it can reach `local[...]` or the
    * shuffle-partition count. */
  def parseCores(raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"$CpusEnv must be a positive integer, got '$raw'"))

  /** Core count from `SPARK_GRAFT_CPUS` (4 when unset). */
  def cores: Int = sys.env.get(CpusEnv).map(parseCores).getOrElse(4)

  /** `local[cores]` session with the shared run settings; `tweak` layers
    * caller-specific settings (the test retry master, a probe's spill
    * dir) on top before the session starts. */
  def create(cores: Int,
             tweak: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = tweak(Tables.withEventsConf(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // The suite's .stage() localCheckpoints pin storage blocks until a
      // DRIVER GC lets ContextCleaner reclaim them; at 276 queries the
      // default 30-minute periodic GC lets dead blocks squeeze unified
      // memory for most of the run (late-suite queries read 2–3× their
      // fresh-JVM times in the r18 window A/B). A 5-minute cadence keeps
      // the storage pool honest; Bench's explicit GC every 32 queries
      // bounds the in-between growth.
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.ui.enabled", "false")
      // keep saveAsTable catalog dirs (q94's bucketed tables) out of the
      // repo root — ./spark-warehouse is the default otherwise
      .config("spark.sql.warehouse.dir",
        graft.tools.TempDirs.createFastForJvm("graft-warehouse"))))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.{SparkEntry, Tables}
import graft.tools.{PhaseTiming, RoutingMetrics, TempDirs}

/** One benchmark run in a fresh JVM with one closed-loop client.
  *
  *  1. Session start, a warm-up job and the one-task-job control.
  *  2. Set-up: one pass of every op over the input dir, which fills every
  *     state and artifact cache the ops use (history ingests, trained
  *     indexes), so those builds are priced in set-up, not hidden; then
  *     `--warm-passes` untimed passes in seeded order, so the timed
  *     passes do not carry the JIT's and codegen's warm-up.
  *  3. Timed passes, each running every op once in a seeded order. A new
  *     pass starts only while one more pass as long as the last still
  *     ends within `--seconds`, and at least `--min-passes` run. With
  *     `--trace 1`, every second pass is traced (listeners attached, bus
  *     drained after each op), so traced and untraced passes share one
  *     window.
  *  4. The one-task-job control again, then the outputs of the last timed
  *     pass's dataframes (re-executed, not rebuilt) for every op with an
  *     oracle are written for the caller to compare.
  *
  * An op is timed at three boundaries: the `fn(spark, dir)` call (build,
  * including any eager staging jobs), forcing `executedPlan` (Catalyst),
  * and a full materialization of every output column under the op's own
  * query execution (exec). All records go, one JSON object per line, to
  * `--out`. */
object Main {
  val PhaseProp = "perfbench.phase"

  private val records = mutable.ArrayBuffer[String]()
  private def emit(kind: String, kv: (String, Any)*): Unit =
    records += Json.obj(("kind" -> kind) +: kv: _*)

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  /** Epoch milliseconds at nanoTime resolution, comparable with listener event times. */
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def elapsedS: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapUsedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Peak resident set of this process (Linux VmHWM), in MB. */
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator.asScala.map { f =>
        try if (Files.isRegularFile(f)) Files.size(f) else 0L
        catch { case _: java.io.IOException => 0L }
      }.sum
      finally walk.close()
    }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val ops = a("ops").split(",").toSeq
    val dir = a("dir")
    val seconds = a("seconds").toDouble
    val minPasses = a("min-passes").toInt
    val warmPasses = a("warm-passes").toInt
    val hardStopS = a("hard-stop").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val unknown = ops.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")

    // scratch the engine puts under its TempDirs root: count only what
    // this process creates there
    val scratchRoot = Paths.get(TempDirs.resolvedRoot)
    val preexisting = Option(scratchRoot.toFile.list()).map(_.toSet).getOrElse(Set.empty)

    val spark = Tables.withEventsConf(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val contextS = elapsedS
    spark.range(1000).selectExpr("sum(id)").collect()
    val firstQueryS = elapsedS

    def oneTaskJobMs(n: Int): Seq[Double] = (1 to n).map { _ =>
      val t = System.nanoTime()
      sc.parallelize(Seq(0), 1).count()
      (System.nanoTime() - t) / 1e6
    }
    oneTaskJobMs(5)
    val probeStart = oneTaskJobMs(20)
    val sessionS = elapsedS

    val tracer = new Tracer
    var heapPeakMb = 0.0
    val lastFrames = mutable.Map[String, DataFrame]()

    def runOp(op: String, pass: Int, stage: String, traced: Boolean): Unit = {
      val span = s"$stage:$pass:$op"
      if (traced) tracer.span = span
      var rows = -1L
      var err: String = null
      val t0 = nowMs
      var t1, t2 = Double.NaN
      try {
        sc.setLocalProperty(PhaseProp, "build")
        val df = SparkEntry.queries(op)(spark, dir)
        lastFrames(op) = df
        t1 = nowMs
        sc.setLocalProperty(PhaseProp, "plan")
        val qe = df.queryExecution
        qe.executedPlan
        t2 = nowMs
        sc.setLocalProperty(PhaseProp, "exec")
        rows = SQLExecution.withNewExecutionId(qe, Some(s"perfbench $op")) {
          qe.toRdd.mapPartitions { it =>
            var n = 0L
            while (it.hasNext) { it.next(); n += 1 }
            Iterator.single(n)
          }.collect().sum
        }
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ").take(300)}"
      } finally sc.setLocalProperty(PhaseProp, null)
      val t3 = nowMs
      val phases = PhaseTiming.drain()
      val builds = phases.filter(_._1.endsWith(".build"))
      val routing = RoutingMetrics.drain()
      heapPeakMb = math.max(heapPeakMb, heapUsedMb)
      emit("op", "span" -> span, "stage" -> stage, "pass" -> pass, "op" -> op,
        "traced" -> traced, "t0_ms" -> t0,
        "build_ms" -> (if (t1.isNaN) t3 - t0 else t1 - t0),
        "plan_ms" -> (if (t1.isNaN) 0.0 else if (t2.isNaN) t3 - t1 else t2 - t1),
        "exec_ms" -> (if (t2.isNaN) 0.0 else t3 - t2),
        "wall_ms" -> (t3 - t0), "rows" -> rows, "ok" -> (err == null), "err" -> err,
        "cache_builds" -> builds.size, "cache_build_s" -> builds.values.sum,
        "routing" -> routing)
      if (traced) {
        SparkInternals.waitListeners(sc)
        records ++= tracer.drain()
      }
    }

    def runPass(order: Seq[String], pass: Int, stage: String, traced: Boolean): Unit = {
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val (cg0, ct0) = SparkInternals.codegen
      val gc0 = gcMs
      val t0 = nowMs
      order.foreach(runOp(_, pass, stage, traced))
      val wallMs = nowMs - t0
      val (cg1, ct1) = SparkInternals.codegen
      if (traced) {
        SparkInternals.waitListeners(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        records ++= tracer.drain()
      }
      emit("pass", "stage" -> stage, "pass" -> pass, "traced" -> traced,
        "wall_ms" -> wallMs, "gc_ms" -> (gcMs - gc0),
        "codegen_classes" -> (cg1 - cg0), "codegen_compile_ms" -> (ct1 - ct0) / 1e6)
    }

    // ---- set-up: one pass fills every cache the ops use, then warm-up ----
    val rnd = new scala.util.Random(a("seed").toLong)
    runPass(ops, 0, "fill", traced = false)
    (0 until warmPasses).foreach(i => runPass(rnd.shuffle(ops), i, "warm", traced = false))
    val firstTimedS = elapsedS

    // ---- timed passes ----
    val deadline = nowMs + seconds * 1000
    var pass = 0
    var lastPassMs = 0.0
    def needMore = pass < minPasses || nowMs + lastPassMs <= deadline
    var truncated = false
    while (needMore && !truncated) {
      val t = nowMs
      runPass(rnd.shuffle(ops), pass, "timed", traced = trace && pass % 2 == 1)
      lastPassMs = nowMs - t
      pass += 1
      // a pass as long as the last one must still end before the hard stop
      truncated = needMore && elapsedS + lastPassMs / 1000 > hardStopS
    }
    val scratchMb = (Option(scratchRoot.toFile.list()).map(_.toSeq).getOrElse(Nil)
      .filterNot(preexisting).map(n => treeBytes(scratchRoot.resolve(n))).sum +
      treeBytes(Paths.get(System.getProperty("java.io.tmpdir")))) / 1048576.0
    val rssMb = peakRssMb
    val probeEnd = oneTaskJobMs(20)

    // ---- outputs for the oracle check, outside every timed region ----
    val oracles = SparkEntry.oracleSql
    val checkDir = a("check-dir")
    Files.createDirectories(Paths.get(checkDir))
    val checkErrors = mutable.Map[String, String]()
    ops.distinct.filter(oracles.contains).foreach { op =>
      try lastFrames(op).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$op")
      catch { case e: Throwable => checkErrors(op) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
    }
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      Json.value(ops.distinct.filter(oracles.contains).map(o => o -> oracles(o)).toMap))

    emit("run", "cores" -> cores, "context_s" -> contextS, "first_query_s" -> firstQueryS,
      "session_s" -> sessionS, "first_timed_s" -> firstTimedS,
      "passes" -> pass, "truncated" -> truncated,
      "onetask_start_ms" -> median(probeStart), "onetask_end_ms" -> median(probeEnd),
      "heap_peak_mb" -> heapPeakMb, "peak_rss_mb" -> rssMb, "scratch_mb" -> scratchMb,
      "check_errors" -> checkErrors.toMap, "end_s" -> elapsedS)
    Files.write(Paths.get(a("out")), records.map(_ + "\n").mkString.getBytes("UTF-8"))
    spark.stop()
  }
}

/** Minimal JSON writer for the run records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

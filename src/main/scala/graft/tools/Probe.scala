package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.graft.GraftShim

import graft.{Session, SparkEntry}

/** The one probe main. Every mode runs on the shared [[graft.Session]]
  * settings with `SPARK_GRAFT_CPUS` cores, so what it prints is what
  * Bench executes; data dir is `SPARK_GRAFT_SF_DIR`.
  *
  *  - `iters <query...>` (default dir sf0.1): each query three times in
  *    one fresh JVM with no tiny-SF warm-up, every output column
  *    materialized as the benchmark times an op, one line per iteration
  *    (wall time, and the generated classes Spark compiled during it with
  *    their compile time — a class the codegen cache serves is not counted),
  *    then the final iteration's Spark jobs (wall, stages, tasks, call
  *    site). The first iteration against the rest is the
  *    cold/warm A/B behind Bench's warm-up policy; the job lines tell a
  *    dispatch-floored query (many tiny jobs) from a compute-bound one.
  *  - `plan <outDir> <suffix> <query...>` (default dir sf0.001): writes
  *    `<query>_<suffix>.txt`, the formatted physical plan of each query's
  *    final frame — the `plans/r*` before/after evidence. `plan <file>`
  *    writes the same plans for [[Flagship]] as EXPLAIN.md. Plan shape,
  *    not data size, is what they witness; queries that build state or
  *    artifacts before their final frame exists pay that once here.
  *  - `latency`: scheduler-health control, 100 one-task jobs and 10
  *    shuffle jobs. A quiet machine reads ~5–15 ms per one-task job;
  *    100 ms+ means every multi-job query floors at jobs × that constant.
  */
object Probe {

  private val Usage = "usage: Probe iters <query...> | " +
    "plan <outDir> <suffix> <query...> | plan <file> | latency"

  /** EXPLAIN.md's queries, each with the plan property it is there to show. */
  val Flagship: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "scan-filter pushdown + partial/final hash agg",
    "q2_filter_project" -> "predicate + projection pushed into the parquet scan",
    "q3_join_segment" -> "fact-fact join + broadcast dimension",
    "q7_topk" -> "TakeOrderedAndProject (per-partition heap, no global sort)",
    "q38_asof_native" -> "custom AsOfJoinExec: one exchange + sort per side",
    "sim_topk_brute" -> "native codegen cosine + broadcast query set",
    "dedup_minhash" -> "slim band shuffle into ONE bucket aggregation (collect ids, compiled a<b pair kernel, distinct) — no window, no self-join, no staging; candidate ids broadcast into a semi-join so only candidate docs' text reaches the one-call-per-pair shingle-Jaccard verify",
    "sim_topk_lsh" -> "adaptive-bit LSH: equi-join buckets, no cartesian, slim candidates",
    "q52_right_join" -> "right outer join broadcasts the filtered small side",
    "dedup_groups_jaccard" -> "pair artifact scan + O(diameter) label-propagation rounds",
    "corpus_pack" -> "two-level prefix sum: bucket-local windows at |strata|x|buckets| parallelism + broadcast bucket offsets, no one-task-per-stratum sort",
    "corpus_vocab_prune" -> "top-K vocab via TakeOrderedAndProject, broadcast to the exploded token stream",
    "dedup_exact" -> "content dedup shuffles the 16-byte md5 digest, never the text body",
    "q74_bloom_semi_join" -> "bloom pre-filter sheds fact rows BEFORE the semi-join shuffle",
    "q77_zorder" -> "Morton interleave as pure integer expressions inside WholeStageCodegen",
    "graph_triangles" -> "canonical-orientation wedge closure: two equi-joins, no cartesian",
    "corpus_split" -> "stratified split via two-level rank: bucket-local rank + broadcast per-bucket offsets; a dominant lang executes across many partitions",
    "corpus_mix" -> "mixture weights: |langs|-row broadcast target join over the two-level per-lang prefix sum",
    "dedup_overlap_matrix" -> "source-pair overlap via groupBy(sh)+collect_set(source) then canonical-pair explode into a map-side partial count: per-shingle cost bounded by C(|S|,2) counted rows, never an S^2 join fan-out",
    "etl_source_scan" -> "DSv2 paged source: projection pruned and string predicates pushed into the reader",
    "q86_salted_join" -> "skew-salted fact-dim join: salt splits keys, result equals the plain join",
    "q82_lateral" -> "correlated LATERAL decorrelates to WindowGroupLimit, no cartesian",
    "graph_pagerank" -> "cached degreed-edge artifact + per-superstep equi-join and partial/final SUM",
    "dedup_jaccard_guarded" -> "block-guard routing: keys-only size agg, broadcast semi/anti split, slim escape banding",
    "dedup_incr_minhash" -> "incremental pairs: persisted pair-artifact scan UNION delta verify tail (the delta candidate pipeline is checkpoint-materialized at build time — its index semi-join shape is pinned by DedupSpec's incremental==rebuild equality, not this dump)",
    "text_lm_score" -> "LM familiarity scoring: bigram explode is a narrow map, the train-count agg shuffles O(distinct bigrams), the scoring join is a bigram-keyed equi-join (stop-bigram skew = many probe rows against ONE build row)",
    "corpus_pack_bpe" -> "packing under the learned tokenizer: trained (word -> n_syms) vocab broadcasts to the exploded token stream; the prefix sum stays two-level",
    "graph_pagerank_incr" -> "warm-started refresh: previous-ranks artifact seeds the iteration; each superstep is the same equi-join + partial/final SUM",
    "text_bm25" -> "BM25 retrieval: tf/df aggregations (map-side partial), 15-row query-term broadcast + 1-row stats broadcast onto the tf scan, integer-exact contribs inside codegen, bounded-heap top-k (shuffle ships O(queries*k))",
    "dedup_substring" -> "span removal, rolling-hash form: positioned digests from a NARROW per-doc kernel map (no shuffle, no gram strings), duplicate detection as 16-byte digest-pair groupBy, gram text re-materialized for COLLIDING pairs only (slice join), range-frame coverage sweep",
    "text_gopher_rep" -> "Gopher repetition suite: ONE zero-shuffle compiled pass (per-doc kernel: tokenize once, one hash map per n) where the relational form would shuffle the corpus five times",
    "pipeline_fineweb" -> "composed FineWeb funnel: cumulative stage flags in one corpus pass, per-text dedup window, single conditional aggregation — no per-stage re-scans",
    "text_dsir" -> "DSIR selection: bigram explode narrow map, two O(64)-bucket count tables broadcast back, floor-scaled integer ratio terms inside codegen, one doc-keyed aggregation",
    "dedup_semantic" -> "SemDeDup: broadcast-centroid assignment (narrow map), ONE exchange on cluster_id, bounded within-cluster pair enumeration, survivor anti-join",
    "text_url_dedup" -> "URL dedup: compiled per-row canonicalization kernel (no shuffle), 16-byte md5-digest groupBy + winners equi-join — no URL strings in any exchange",
    "corpus_domain_cap" -> "domain cap: TwoLevel md5-bucket rank (bucket-local windows + broadcast prefix counts) — no per-domain global sort at any stratum skew",
    "q88_quantile_bound" -> "GK rank-bound check: 3-value-per-group approx broadcast onto the corpus scan, ONE conditional aggregation computes every tie interval",
    "pipeline_curation" -> "end-to-end curation composition: funnel flags in ONE raw-corpus pass, then decontam digest windows, broadcast frozen DSIR model, TwoLevel domain-cap rank and mix prefix sum over the SHRINKING survivor chain, closed-form pack aggregate — no stage re-scans the raw corpus",
    "pipeline_dataloader_resume" -> "mid-epoch resume: the assembly plan unchanged, plus a <=shards-row cursor collect, a broadcast cursor join, and a narrow pos>=cut filter — the suffix keeps its original (shard, pos), nothing new shuffles",
    "pipeline_dataloader_curriculum" -> "curriculum over the sampled+tempered pool: instance chain as in pipeline_dataloader, quality-bucket phase via lmScore's bigram equi-joins, then ONE TwoLevel (bucket, md5-prefix) rank + <=48-row broadcast offsets — competence order with no global sort",
  )

  def main(args: Array[String]): Unit = args.toList match {
    case "iters" :: names if names.nonEmpty =>
      val picked = SparkEntry.resolve(names)
      withSession(spark => iters(spark, dataDir("sf0.1"), picked))
    case "plan" :: out :: Nil =>
      withSession(spark => explainMd(spark, dataDir("sf0.001"), out))
    case "plan" :: outDir :: suffix :: names if names.nonEmpty =>
      val picked = SparkEntry.resolve(names)
      withSession { spark =>
        val dir = dataDir("sf0.001")
        Files.createDirectories(Paths.get(outDir))
        picked.foreach { case (name, fn) =>
          val path = s"$outDir/${name}_$suffix.txt"
          val txt = formattedPlan(fn(spark, dir))
          Files.writeString(Paths.get(path), txt)
          println(s"[probe] wrote $path (${txt.length} chars)")
        }
      }
    case "latency" :: Nil => withSession(latency)
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def dataDir(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"/root/testdata/$default")

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = Session.create(Session.cores)
    try body(spark) finally spark.stop()
  }

  private def formattedPlan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def explainMd(spark: SparkSession, dir: String, out: String): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    val sb = new StringBuilder
    sb.append("# EXPLAIN — flagship physical plans\n\n")
    sb.append(s"Generated by `runMain graft.tools.Probe plan $out` on the shared\n")
    sb.append("session settings (`graft.Session`):\n\n")
    sb.append(s"- local[$cores], $cores shuffle partitions, AQE on;\n")
    sb.append(s"- data dir `$dir`.\n\n")
    sb.append("Each plan is the formatted physical plan of the query's final frame,\n")
    sb.append("before AQE re-plans at run time. The per-operator plan review this\n")
    sb.append("project commits to: each plan below is the one we want, not the\n")
    sb.append("first one that passed.\n")
    SparkEntry.resolve(Flagship.map(_._1)).zip(Flagship).foreach {
      case ((name, fn), (_, why)) =>
        sb.append(s"\n## $name — $why\n\n```\n")
        sb.append(formattedPlan(fn(spark, dir)).trim)
        sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[probe] wrote $out (${Flagship.size} plans)")
  }

  private final case class Job(started: Long, stages: Int, tasks: Int,
                               site: String, var ended: Long = -1L)

  private def iters(spark: SparkSession, dir: String,
                    picked: Seq[(String, (SparkSession, String) => DataFrame)]): Unit = {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name.take(80)))
          .getOrElse("")
        // planned task count from the job's own stage infos — correct
        // even when several jobs run concurrently (q97's arms)
        jobs.put(e.jobId,
          Job(e.time, e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
    }
    spark.range(1000).selectExpr("sum(id)").collect() // JVM/session warmup
    spark.sparkContext.addSparkListener(listener)
    for ((name, fn) <- picked; i <- 1 to 3) {
      // drain the bus before and after each iteration, so the map ends up
      // holding exactly the final iteration's jobs, every one with its end
      GraftShim.waitListeners(spark)
      jobs.clear()
      val (cls0, ns0) = GraftShim.codegenCounters
      val t0 = System.nanoTime()
      val rows = materialize(fn(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cls1, ns1) = GraftShim.codegenCounters
      println(f"[probe] $name iter $i: $wall%.2f s ($rows rows), " +
        f"codegen ${cls1 - cls0} classes ${(ns1 - ns0) / 1e6}%.0f ms")
      GraftShim.waitListeners(spark)
      if (i == 3) {
        val all = jobs.asScala.toSeq.sortBy(_._1)
        all.foreach { case (id, j) =>
          println(f"[probe]   job $id%4d ${j.ended - j.started}%6d ms ${j.stages}%2d stages ${j.tasks}%4d tasks  ${j.site}")
        }
        println(s"[probe] $name final iteration: ${all.size} jobs, sum of job walls " +
          s"${all.map { case (_, j) => j.ended - j.started }.sum} ms")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `df` to completion with every output column computed and
    * returns its row count — the benchmark's op timing. `count()` would
    * prune the columns and understate ops whose cost is in the output. */
  private def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
    }
  }

  private def latency(spark: SparkSession): Unit = {
    def timedMs(n: Int)(job: => Unit): Seq[Double] = (1 to n).map { _ =>
      val t0 = System.nanoTime(); job; (System.nanoTime() - t0) / 1e6
    }
    def report(what: String, ms: Seq[Double]): Unit =
      println(f"[probe] ${ms.size} $what: ${ms.sum}%.0f ms total, " +
        f"median ${ms.sorted.apply(ms.size / 2)}%.1f ms per job")
    spark.range(100).count() // warm
    report("one-task jobs", timedMs(100)(spark.range(1).count()))
    val cores = spark.sparkContext.defaultParallelism
    report(s"$cores-partition shuffle jobs", timedMs(10)(
      spark.range(100000).repartition(cores).groupBy().count().collect()))
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim

import graft.functions.CosineSimilarity.cosine_sim
import graft.functions.VectorKernels
import graft.ops.{KMeans, Similarity}

/** The IVF probe on a frozen driver-side quantizer: the probe-cell
  * kernel ranks cells exactly as the cross join + `row_number` window it
  * replaced, the quantizer of a persisted index is collected once per
  * JVM and key, and a warm IVF search runs its jobs in execution only. */
class IvfQuantizerSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs started while `body` runs, with the listener bus drained
    * on both sides so no earlier job leaks in and no late one is lost. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    GraftShim.waitListeners(spark)
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      GraftShim.waitListeners(spark)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def randomVec(r: scala.util.Random, dim: Int): Array[Double] =
    Array.fill(dim)(r.nextFloat().toDouble * 2.0 - 1.0)

  /** The probe ranking the kernel replaced: every (query, centroid) pair
    * scored by `cosine_sim`, ranked by `row_number` over
    * (c_cos DESC, cluster_id), cut at `nprobe`. */
  private def windowProbe(queries: Seq[(Long, Array[Double])],
                          centroids: Seq[(Int, Array[Double])],
                          nprobe: Int): Map[Long, Seq[Int]] = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("cluster_id"))
    queries.toDF("q_id", "q_emb")
      .crossJoin(centroids.toDF("cluster_id", "centroid"))
      .withColumn("c_cos", cosine_sim(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(wq))
      .filter(col("c_rank") <= nprobe)
      .select(col("q_id"), col("c_rank"), col("cluster_id"))
      .as[(Long, Int, Int)].collect().toSeq
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) }
  }

  private def kernelProbe(queries: Seq[(Long, Array[Double])],
                          centroids: Seq[(Int, Array[Double])],
                          nprobe: Int): Map[Long, Seq[Int]] = {
    val q = KMeans.Quantizer.of(centroids.toDF("cluster_id", "centroid"))
    queries.map { case (id, v) =>
      id -> VectorKernels.probeCells(v, q.ids, q.centroids, nprobe).toSeq
    }.toMap
  }

  test("the kernel's cosine is bit-identical to cosine_sim") {
    val r = new scala.util.Random(20260)
    val pairs = (0 until 300).map(_ => (randomVec(r, 64), randomVec(r, 64)))
    val viaSql = pairs.toDF("a", "b")
      .select(cosine_sim(col("a"), col("b"))).as[Double].collect()
    pairs.map { case (a, b) => VectorKernels.cosine(a, b) }.zip(viaSql)
      .foreach { case (kernel, sql) =>
        assert(java.lang.Double.doubleToLongBits(kernel) ==
          java.lang.Double.doubleToLongBits(sql), s"$kernel vs $sql")
      }
  }

  test("probe order equals the window's on seeded random vectors") {
    val r = new scala.util.Random(77)
    val queries = (0L until 40L).map(i => (i, randomVec(r, 16)))
    // ids out of order in the frame: the quantizer sorts them
    val centroids = Seq(5, 0, 3, 1, 4, 2, 6).map(c => (c, randomVec(r, 16)))
    for (nprobe <- Seq(1, 4, 7))
      assert(kernelProbe(queries, centroids, nprobe) ==
        windowProbe(queries, centroids, nprobe), s"nprobe = $nprobe")
  }

  test("ties go to the lower cluster_id; a NaN cosine ranks as the window " +
      "ranks it") {
    val c = Array(1.0, 0.0, 0.0)
    val centroids = Seq(
      (4, c.clone()), (2, c.clone()),       // exact tie on every query
      (7, Array(0.0, 0.0, 0.0)),             // zero norm: NaN cosine
      (1, Array(0.0, 1.0, 0.0)), (3, Array(0.0, 0.0, 1.0)))
    val queries = Seq(
      0L -> Array(1.0, 0.5, 0.0), 1L -> Array(0.0, 1.0, 0.0),
      2L -> Array(0.0, 0.0, 0.0),            // zero-norm query: all NaN
      3L -> Array(-1.0, 0.0, 0.0))
    val kernel = kernelProbe(queries, centroids, 5)
    assert(kernel == windowProbe(queries, centroids, 5))
    // Spark's ordering puts NaN above every number, so under DESC the
    // zero-norm centroid comes first; the tied pair keeps id 2 before 4
    assert(kernel(0L) == Seq(7, 2, 4, 1, 3))
    assert(kernel(2L) == Seq(1, 2, 3, 4, 7))
  }

  test("a null query ranks the cells by id, as the window's ties did") {
    assert(VectorKernels.probeCells(null, Array(0, 1, 2),
      Array(Array(1.0), Array(2.0), Array(3.0)), 2).toSeq == Seq(0, 1))
  }

  test("a warm sim_topk_ivf call runs at most 5 jobs, none while building") {
    val q = SparkEntry.queries("sim_topk_ivf")
    val expected = q(spark, sf).collect().toSeq // trains and collects once
    val (df, buildJobs) = jobsDuring(q(spark, sf))
    val (rows, runJobs) = jobsDuring(df.collect().toSeq)
    assert(buildJobs == 0, s"building the warm plan ran $buildJobs jobs")
    assert(buildJobs + runJobs <= 5, s"a warm call ran ${buildJobs + runJobs} jobs")
    assert(rows == expected)
  }

  test("the quantizer is collected once per key, and again after the " +
      "corpus is rewritten in place") {
    val dir = Files.createTempDirectory("graft-ivfq").toString
    try {
      Similarity.writeClusteredCorpus(spark, dir)
      val first = Similarity.ivfQuantizer(spark, dir, 4, 1)
      val (again, jobs) = jobsDuring(Similarity.ivfQuantizer(spark, dir, 4, 1))
      assert(again eq first)
      assert(jobs == 0, s"a memoized quantizer ran $jobs jobs")
      assert(!(Similarity.ivfQuantizer(spark, dir, 5, 1) eq first),
        "different cells must not share a matrix")

      Similarity.writeDriftedCorpus(spark, dir)
      val rebuilt = Similarity.ivfQuantizer(spark, dir, 4, 1)
      assert(!(rebuilt eq first), "a rewritten corpus served the old quantizer")
      val fresh = KMeans.Quantizer.of(
        KMeans.fit(spark, Tables.embeddings(spark, dir), 4, 1))
      assert(rebuilt.ids.toSeq == fresh.ids.toSeq)
      assert(rebuilt.centroids.map(_.toSeq).toSeq ==
        fresh.centroids.map(_.toSeq).toSeq)
    } finally graft.tools.TempDirs.deleteRecursively(dir)
  }
}

package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextKernels
import graft.ops.Dedup

/** The compiled kernels of the lean minhash and TF-IDF plans, each
  * checked against the relational form it replaced. */
class TextKernelsSpec extends SparkSpec {

  private def sigFrame(seed: Long, n: Int) = {
    val rnd = new scala.util.Random(seed)
    val edge = Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)
    val rows = (0 until n).map { i =>
      Row(i.toLong, (0 until Dedup.NumHashes).map { _ =>
        if (rnd.nextInt(8) == 0) edge(rnd.nextInt(edge.length)) else rnd.nextLong()
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), StructType(Seq(
      StructField("doc_id", LongType), StructField("sig", ArrayType(LongType, false)))))
  }

  for ((bands, rows) <- Seq(16 -> 4, 8 -> 8)) {
    test(s"band kernel equals xxhash64 over each signature slice ($bands×$rows)") {
      val sliced = array((0 until bands).map(b =>
        xxhash64(expr(s"slice(sig, ${b * rows + 1}, $rows)"))): _*)
      val got = sigFrame(bands.toLong, 300).select(col("sig"), sliced.as("want")).collect()
      assert(got.length == 300)
      got.foreach { r =>
        assert(TextKernels.bandKeys(r.getSeq[Long](0).toArray, bands).toSeq ==
          r.getSeq[Long](1), s"sig ${r.getSeq[Long](0)}")
      }
      // the all-extreme signatures
      for (v <- Seq(Long.MinValue, Long.MaxValue)) {
        val want = spark.range(1).select(array((0 until bands).map(_ =>
            xxhash64(array((0 until rows).map(_ => lit(v)): _*))): _*))
          .head.getSeq[Long](0)
        assert(TextKernels.bandKeys(Array.fill(Dedup.NumHashes)(v), bands).toSeq == want)
      }
      assert(TextKernels.bandKeys(null, bands) == null)
    }
  }

  test("band UDFs band the text's and the token set's signatures") {
    val docs = Tables.documents(spark, sf).select(col("text")).limit(200)
      .union(spark.createDataFrame(spark.sparkContext.parallelize(
        texts.map(Row(_)), 1), StructType(Seq(StructField("text", StringType)))))
    val rows = docs.select(col("text"),
        TextKernels.minhashBandsUdf(col("text"), lit(Dedup.ShingleN),
          lit(Dedup.NumHashes), lit(Dedup.Bands)).as("bands"),
        TextKernels.tokenBandsUdf(array_distinct(TextKernels.tokens(col("text"))),
          lit(Dedup.NumHashes), lit(8)).as("tok_bands"))
      .collect()
    def seq(a: Array[Long]) = Option(a).map(_.toSeq)
    rows.foreach { r =>
      val t = r.getString(0)
      assert(Option(r.getSeq[Long](1)).map(_.toSeq) == seq(TextKernels.bandKeys(
        TextKernels.minhashSignature(t, Dedup.ShingleN, Dedup.NumHashes), Dedup.Bands)))
      val toks = Option(t).map(_.split(" ").filter(_.nonEmpty).distinct).orNull
      assert(Option(r.getSeq[Long](2)).map(_.toSeq) == seq(TextKernels.bandKeys(
        TextKernels.minhashTokens(toks, Dedup.NumHashes), 8)))
    }
  }

  test("pair kernel equals the band self-join rule on ids repeating across bands") {
    // 60 docs in 4 bands; each band's key puts a doc in one of a few
    // buckets, so pairs recur across bands, and band 3 holds one bucket
    // above the cap
    val rnd = new scala.util.Random(7)
    val rows = for (band <- 0 until 4; doc <- 0L until 60L) yield
      Row(doc, band, if (band == 3 && doc < 40) 99L else rnd.nextInt(6).toLong)
    val banded = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("doc_id", LongType), StructField("band", IntegerType),
        StructField("band_sig", LongType))))
    val cap = 30
    val bucketed = banded
      .withColumn("bucket_n", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_sig"))))
      .filter(col("bucket_n") <= cap)
    val want = bucketed.select(col("band"), col("band_sig"), col("doc_id").as("a_id"))
      .join(bucketed.select(col("band"), col("band_sig"), col("doc_id").as("b_id")),
        Seq("band", "band_sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.bucketCandidates(banded, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want.nonEmpty)
    assert(got.size == got.toSet.size, "candidate pairs are not distinct")
    assert(got.toSet == want)
  }

  test("run-walk kernel: strict a < b pairs per run, the cap counting every row") {
    // (doc_id, band, band_sig) per row, one bucket per contiguous run
    def walk(cap: Int)(rows: (java.lang.Long, Int, Long)*): Seq[(Long, Long)] =
      TextKernels.bucketRunPairs(rows.iterator.map { case (d, b, s) => Row(s, b, d) }, cap)
        .map { case (a, b) => (a.longValue, b.longValue) }.toSeq.sorted
    def run(ids: Any*) = ids.map(d => (d.asInstanceOf[java.lang.Long], 0, 7L))
    // ids in any order; a repeated id pairs with nothing
    assert(walk(10)(run(5L, 3L, 5L, 9L): _*) ==
      Seq((3L, 5L), (3L, 5L), (3L, 9L), (5L, 9L), (5L, 9L)))
    assert(walk(10)(run(4L, 4L): _*).isEmpty)
    // a run of exactly the cap pairs; one row more and it yields nothing
    assert(walk(3)(run(1L, 2L, 3L): _*) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(walk(3)(run(1L, 2L, 3L, 4L): _*).isEmpty)
    // a null id counts toward the cap but pairs with nothing
    assert(walk(3)(run(null, 1L, 2L): _*) == Seq((1L, 2L)))
    assert(walk(2)(run(null, 1L, 2L): _*).isEmpty)
    assert(walk(3)(run(null, null, 2L): _*).isEmpty)
    // runs split on the band and on the band key; a capped run between
    // two others drops only itself
    assert(walk(2)(
      (1L, 0, 7L), (2L, 0, 7L),
      (3L, 1, 7L), (4L, 1, 7L),
      (5L, 1, 8L), (6L, 1, 8L), (7L, 1, 8L),
      (8L, 1, 9L), (9L, 1, 9L),
      (10L, 2, 9L)) ==
      Seq((1L, 2L), (3L, 4L), (8L, 9L)))
    assert(walk(5)().isEmpty)
  }

  private val texts = Seq(null, "", " ", "   ", "a", "a a a", " lead", "trail ",
    "  two  spaces  between  ", "x y x y x", "naïve café naïve", "日本 語 日本",
    "emoji 🙂 🙂 tab\there", "nbsp\u00a0stays one token")

  test("tf kernel equals tokens + groupBy count, with non-null token and tf") {
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 2),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val want = docs.select(col("doc_id"), explode(TextKernels.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val got = docs.select(col("doc_id"), explode(TextKernels.termFreqUdf(col("text"))).as("t"))
      .select(col("doc_id"), col("t.token").as("token"), col("t.tf").as("tf"))
    assert(got.schema == want.schema)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(x => (x._1, x._2)).toSeq
    assert(rows(want).nonEmpty)
    assert(rows(got) == rows(want))
  }

  test("text-Jaccard kernel equals jaccardDistinct over both shingle sets, bit for bit") {
    val docs = Tables.documents(spark, sf).select(col("text")).collect().map(_.getString(0))
      .take(60) ++ texts
    val pairs = for (a <- docs; b <- docs) yield (a, b)
    pairs.foreach { case (a, b) =>
      val want = TextKernels.jaccardDistinct(
        TextKernels.shingles(a, Dedup.ShingleN), TextKernels.shingles(b, Dedup.ShingleN))
      val got = TextKernels.shingleJaccard(a, b, Dedup.ShingleN)
      assert(Option(got).map(d => java.lang.Double.doubleToRawLongBits(d)) ==
        Option(want).map(d => java.lang.Double.doubleToRawLongBits(d)), s"($a, $b)")
    }
    // and through the UDF, against the array-column verify it replaced
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(
      pairs.take(2000).map { case (a, b) => Row(a, b) }.toSeq, 4),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
    val n = lit(Dedup.ShingleN)
    val mismatches = frame.select(
        TextKernels.shingleJaccardUdf(col("a"), col("b"), n).as("got"),
        TextKernels.jaccardUdf(TextKernels.shingleUdf(col("a"), n),
          TextKernels.shingleUdf(col("b"), n)).as("want"))
      .filter(not(col("got") <=> col("want")))
      .count()
    assert(mismatches == 0)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tools.Stage._

/** Multi-dimensional layout: Z-order (Morton) clustering. Sorting a table
  * by the bit-interleaving of two key columns localizes BOTH dimensions in
  * every file, so min/max footer pruning works for predicates on either
  * key — the standard data-skipping layout for fact tables queried along
  * more than one axis (a linear sort localizes only its leading column).
  * At 100 TB this is a one-time `repartitionByRange(zval)` + write whose
  * cost every subsequent selective scan amortizes.
  */
object Layout {

  /** Morton z-value of two non-negative int keys, 16 bits each, as a pure
    * integer expression (shift/mask/add) — runs in whole-stage codegen and
    * reproduces bit-for-bit in any SQL engine. */
  def zvalue(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftright(x, i) % 2) * lit(1L << (2 * i)) +
        (shiftright(y, i) % 2) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** The same interleave as SQL text (for the DuckDB oracle). */
  def zvalueSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"(($x >> $i) % 2) * ${1L << (2 * i)} + (($y >> $i) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** Z-order clustering key over lineitem's (part, supplier) axes — the
    * two independent dimensions a parts-and-suppliers workload filters
    * on. Emits every row's z-value in z-sorted order; the companion spec
    * writes range-partitioned files in this order and proves BOTH
    * dimensions' per-file spans contract (the pruning property), which a
    * single-column sort cannot do.
    *
    * Caveat that matters in production: interleaving only balances
    * dimensions of comparable bit width — skewed-width keys (like
    * suppkey vs partkey at small SF) should be rank-normalized to a
    * common range first, or the wide key's top bits dominate every z
    * split (see LayoutSpec's controlled grid). */
  def zorder(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        zvalue(col("l_partkey"), col("l_suppkey")).as("zval"))
      .orderBy(col("zval"), col("l_partkey"), col("l_suppkey"))

  val zorderSql: String =
    s"""SELECT l_partkey, l_suppkey,
       |  ${zvalueSql("l_partkey", "l_suppkey")} AS zval
       |FROM lineitem
       |ORDER BY zval, l_partkey, l_suppkey""".stripMargin

  /** Small-file compaction — the lakehouse maintenance op every ingest
    * pipeline needs: a fragmented layout (here: the documents table
    * deliberately shattered into 64 tiny files) is rewritten into
    * size-targeted files (total bytes / target, via one round-robin
    * repartition), and the content survives byte-for-byte — which is
    * what the oracle checks against the original table. File-count and
    * size assertions live in the spec. At 100 TB compaction is the cure
    * for open-file-handle and footer-overhead death by small files;
    * the plan is scan → exchange → write, embarrassingly scalable. */
  def compaction(spark: SparkSession, dir: String,
                 targetBytes: Long = 256 * 1024): DataFrame = {
    val base = graft.tools.TempDirs.createFast("graft-q80")
    try {
      Tables.documents(spark, dir).repartition(64)
        .write.mode("overwrite").parquet(s"$base/small")
      val frag = Tables.parquet(spark, s"$base/small")
      val totalBytes = new java.io.File(s"$base/small").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
      frag.repartition(nOut).write.mode("overwrite").parquet(s"$base/compact")
      Tables.parquet(spark, s"$base/compact")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
        .stage() // materialize before the temp layout is deleted
    } finally graft.tools.TempDirs.deleteRecursively(base)
  }

  val compactionSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q77_zorder"     -> (zorder _),
    "q80_compaction" -> ((s: SparkSession, d: String) => compaction(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "q77_zorder"     -> zorderSql,
    "q80_compaction" -> compactionSql,
  )
}

package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Compiled vector kernels (same rationale as TextKernels: lambda HOFs are
  * interpreted; these loops are hot). */
object VectorKernels {

  private val Seed = 42L

  /** Hash of (table, bit, dim) — mirrors the fold the SQL built-in
    * `xxhash64(table, bit, dim)` performs over int children. */
  private def planeHash(table: Int, bit: Int, dim: Int): Long = {
    var h = XXH64.hashInt(table, Seed)
    h = XXH64.hashInt(bit, h)
    XXH64.hashInt(dim, h)
  }

  /** Rademacher plane matrix for (table, bits, dim), flattened row-major —
    * derived deterministically from hashes, so it needs no shipping; cached
    * per executor JVM because rebuilding it costs bits·dim hash calls per
    * ROW otherwise (at adaptive bit widths that dominates signature time). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()
  private def planes(table: Int, bits: Int, dim: Int): Array[Double] =
    planeCache.computeIfAbsent((table, bits, dim), { key: (Int, Int, Int) =>
      val (t, b, d) = key
      val arr = new Array[Double](b * d)
      var j = 0
      while (j < b) {
        var i = 0
        while (i < d) {
          arr(j * d + i) = if ((planeHash(t, j, i) & 1L) == 1L) 1.0 else -1.0
          i += 1
        }
        j += 1
      }
      arr
    })

  /** LSH signature directly over Catalyst ArrayData — the entry point the
    * native LshSignature expression's generated code calls (static
    * forwarder; no per-row encoder conversion to Array[Float], no boxing).
    * `isFloat` is resolved once at analysis time from the column's element
    * type. Bit-for-bit identical to lshSignature below. */
  def lshSigArrayData(v: org.apache.spark.sql.catalyst.util.ArrayData,
                      table: Int, bits: Int, isFloat: Boolean): Long = {
    val n = v.numElements()
    val m = planes(table, bits, n)
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var i = 0
      val off = j * n
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * m(off + i)
        i += 1
      }
      if (dot >= 0.0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Random-hyperplane LSH signature: bit j of the result is
    * sign(<v, h_j>) where h_j is a Rademacher (±1) hyperplane derived
    * deterministically from (table, j, dim-index) hashes — no stored
    * model, identical on any executor. */
  def lshSignature(v: Array[Float], table: Int, bits: Int): Long = {
    val m = planes(table, bits, v.length)
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var i = 0
      val off = j * v.length
      while (i < v.length) {
        dot += v(i).toDouble * m(off + i)
        i += 1
      }
      if (dot >= 0.0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Cosine similarity of `v` against every row of a candidate matrix;
    * returns (argmax index, max cosine). Ties keep the lowest index; NaN
    * cosines (zero-norm vectors) never win. The matrix is CLOSED OVER by
    * the udf (primitive arrays, serialized once per task with the
    * closure) — passing it as a column literal instead would re-convert
    * the whole matrix from ArrayData to boxed Seq[Seq[Double]] on EVERY
    * row, which dominates the runtime at corpus scale. The argmax is
    * map-side — this is what lets k-means assignment run with ZERO
    * shuffle. */
  def nearest(v: Array[Double], m: Array[Array[Double]]): (Int, Double) = {
    var bestIdx = 0
    var best = Double.NegativeInfinity
    var c = 0
    while (c < m.length) {
      val cos = cosine(v, m(c))
      if (cos > best) { best = cos; bestIdx = c }
      c += 1
    }
    (bestIdx, best)
  }

  /** Cosine of two driver- or task-side vectors over their common
    * prefix, in [[CosineSimilarity]]'s operation sequence — dot, ‖a‖²
    * and ‖b‖² accumulated in index order, then
    * `dot / (sqrt(na) * sqrt(nb))` — so on equal-length vectors it is
    * bit-identical to `cosine_sim`; NaN when either norm is zero. */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Multi-probe LSH: all signatures within Hamming distance ≤ d of `sig`
    * over the low `bits` bits (Lv et al., "Multi-probe LSH", VLDB 2007 —
    * probing neighbor buckets recovers the recall that more tables would
    * buy, without re-hashing the corpus). d ≤ 2 keeps the probe count at
    * 1 + bits + bits·(bits−1)/2. */
  def probeSigs(sig: Long, bits: Int, d: Int): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer(sig)
    if (d >= 1) {
      var i = 0
      while (i < bits) {
        out += (sig ^ (1L << i))
        if (d >= 2) {
          var j = i + 1
          while (j < bits) { out += (sig ^ (1L << i) ^ (1L << j)); j += 1 }
        }
        i += 1
      }
    }
    out.toArray
  }

  val probeSigsUdf: UserDefinedFunction =
    udf((sig: Long, bits: Int, d: Int) => probeSigs(sig, bits, d))

  /** Squared L2 norm — zero-norm detector. A zero vector has no direction,
    * so every cosine against it is NaN; such rows must be filtered out of
    * any cosine-space corpus before training/sampling (a NaN max-cos would
    * otherwise give the row infinite k-means‖ cost and make it win every
    * sampling round). */
  val normSqUdf: UserDefinedFunction = udf((v: Array[Double]) => {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    s
  })

  /** Symmetric int8 quantization of a float vector: scale = 127 / max|x|
    * (0 for an all-zero vector), elements mapped by floor(x · scale).
    * Returns (scale, quantized) as a struct — one compiled pass per row,
    * no interpreted HOF in the corpus scan. floor (not round) because
    * round's tie-breaking differs between engines while floor is exact
    * IEEE in both, keeping the op oracle-checkable bit-for-bit. */
  val quantizeInt8Udf: UserDefinedFunction = udf((v: Array[Float]) => {
    var mab = 0.0
    var i = 0
    while (i < v.length) {
      val a = math.abs(v(i).toDouble)
      if (a > mab) mab = a
      i += 1
    }
    val scale = if (mab == 0.0) 0.0 else 127.0 / mab
    val q = new Array[Long](v.length)
    i = 0
    while (i < v.length) { q(i) = math.floor(v(i).toDouble * scale).toLong; i += 1 }
    (scale, q)
  })

  /** (argmax index, max cosine) as a struct column — fields `_1`, `_2`. */
  def nearestUdf(m: Array[Array[Double]]): UserDefinedFunction =
    udf((v: Array[Double]) => nearest(v, m))

  /** IVF probe-cell ranking: the `nprobe` cells whose centroid is most
    * cosine-similar to `v`, best first — the per-query replacement for a
    * queries × centroids cross join plus a `row_number` window.
    *
    * It orders exactly as that window did, `c_cos DESC, cluster_id ASC`
    * under Spark's double ordering ([[SQLOrderingUtil.compareDoubles]]:
    * NaN sorts highest, so a zero-norm centroid's NaN cosine ranks FIRST;
    * -0.0 equals 0.0 and falls to the id tie-break). Each cosine is the
    * operation sequence of [[CosineSimilarity]] ([[cosine]]), so the
    * probed cell set is the one the window picked. A null `v` (all
    * cosines null) ranks the cells by id alone, as the window's ties
    * did. `ids` is row-aligned with `m`; lengths must match, as for
    * `cosine_sim`. */
  def probeCells(v: Array[Double], ids: Array[Int], m: Array[Array[Double]],
                 nprobe: Int): Array[Int] = {
    val cos = new Array[Double](m.length)
    if (v != null) {
      var c = 0
      while (c < m.length) {
        require(m(c).length == v.length,
          s"probeCells: length mismatch ${v.length} vs ${m(c).length}")
        cos(c) = cosine(v, m(c))
        c += 1
      }
    }
    m.indices.sortWith { (a, b) =>
      val byCos = SQLOrderingUtil.compareDoubles(cos(b), cos(a))
      if (byCos != 0) byCos < 0 else ids(a) < ids(b)
    }.take(nprobe).map(ids).toArray
  }

  /** [[probeCells]] as a column: array<int> of cell ids, best first; the
    * matrix is closed over like [[nearestUdf]]'s. */
  def probeCellsUdf(ids: Array[Int], m: Array[Array[Double]],
                    nprobe: Int): UserDefinedFunction =
    udf((v: Array[Double]) => probeCells(v, ids, m, nprobe))

  /** Max cosine of `v` against the candidate matrix (k-means|| cost term). */
  def maxCosUdf(m: Array[Array[Double]]): UserDefinedFunction =
    udf((v: Array[Double]) => nearest(v, m)._2)
}

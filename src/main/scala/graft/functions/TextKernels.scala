package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.api.java.{UDF1, UDF3, UDF4}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.{array_remove, lit, split, udf}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform

/** Compiled per-row kernels for the hashing-heavy dedup operators.
  *
  * Why UDFs here and built-ins everywhere else: Spark's higher-order array
  * functions (`transform`/`aggregate` with lambdas) are CodegenFallback —
  * every lambda application is interpreted with per-element boxing, which
  * measured ~30 ms/doc for the shingle+64-hash pipeline. A compiled JVM
  * loop does the same work in microseconds. This mirrors Spark MLlib's own
  * approach (HashingTF / MinHashLSH are UDF-based for exactly this
  * reason). The kernels are pure, deterministic, and per-row — they keep
  * the distributed dataflow (explode/join/aggregate) in DataFrame ops.
  *
  * Hashing uses xxhash64 (same algorithm family as the SQL `xxhash64`
  * built-in) via Spark's unsafe XXH64, seeded per family member. */
object TextKernels {

  private val Seed = 42L

  /** Whitespace tokens, empty strings dropped (Spark's split is
    * regex-based and emits empties on repeated separators) — the one
    * column tokenizer of the text, dedup and corpus operators.
    * `array_remove` is codegen'd, where a `filter` lambda is interpreted
    * per element; null text gives null, and the type is split's
    * `array<string>` with no null elements. */
  def tokens(c: Column): Column = array_remove(split(c, " "), lit(""))

  /** The oracle (DuckDB) form of [[tokens]] over a `text` column. */
  val tokensSql: String = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** xxhash64 of a UTF-8 string. */
  private def hashString(s: String, seed: Long): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, seed)
  }

  private def hashLong(v: Long, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(v, seed)

  private def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else text.split(" ").filter(_.nonEmpty)

  /** Distinct word n-gram shingles of a text. */
  def shingles(text: String, n: Int): Array[String] = {
    val toks = tokenize(text)
    if (toks.length < n) Array.empty
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      seen.toArray(new Array[String](seen.size))
    }
  }

  /** MinHash signature: numHashes family members over the shingle set.
    * Family trick: hash each shingle string once, then derive member s via
    * a long re-hash — identical structure to the expression version, just
    * compiled. Returns null (→ filtered) when there are no shingles. */
  def minhashSignature(text: String, n: Int, numHashes: Int): Array[Long] =
    minhashTokens(shingles(text, n), numHashes)

  /** 64-bit SimHash: every token occurrence votes ±1 per bit of its
    * xxhash64; the sign vector is the fingerprint. Null on empty docs. */
  def simhash64(text: String): java.lang.Long = {
    val toks = tokenize(text)
    if (toks.isEmpty) null
    else {
      val votes = new Array[Int](64)
      var i = 0
      while (i < toks.length) {
        val h = hashString(toks(i), Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var fp = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
      java.lang.Long.valueOf(fp)
    }
  }

  /** MinHash signature over a set of strings — the single family kernel:
    * minhashSignature feeds it shingles, the ngram-Jaccard big-block
    * escape path feeds it distinct tokens. Null (→ filtered) on an empty
    * set. */
  def minhashTokens(toks: Array[String], numHashes: Int): Array[Long] = {
    if (toks == null || toks.isEmpty) null
    else {
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < toks.length) {
        val h1 = hashString(toks(i), Seed)
        var s = 0
        while (s < numHashes) {
          val hs = hashLong(h1, s)
          if (hs < sig(s)) sig(s) = hs
          s += 1
        }
        i += 1
      }
      sig
    }
  }

  private val DebugChecks = java.lang.Boolean.getBoolean("graft.debug.checks")

  /** Exact Jaccard of two DISTINCT string sets — the compiled replacement
    * for `size(array_intersect)/size(array_union)`, whose string-array
    * forms evaluate INTERPRETED (SQLOpenHashSet nullSafeEval) and were
    * measured dominating the near-dup verify stages at the 100× probe
    * (straggler tasks pinned in ArrayUnion.eval). Inputs are already
    * distinct (array_distinct / the shingle kernel's LinkedHashSet), so
    * |union| = |a|+|b|−|a∩b| and the double ratio is bit-identical to the
    * SQL form — the DuckDB oracles are unchanged. Null (→ dropped at the
    * threshold filter) on a null side or an empty union, matching
    * `when(uni > 0, inter/uni)`.
    *
    * The DISTINCT-input precondition is part of the name; under
    * `-Dgraft.debug.checks=true` (on in the test JVM) it is VERIFIED per
    * call — a duplicated input over-counts the intersection and
    * misestimates |union|, and that must fail loudly at the violating call
    * site rather than silently skew similarity scores (ADVICE r7). The
    * check costs one extra HashSet insert pass and is compiled out of the
    * hot path when the flag is unset (static final field). */
  def jaccardDistinct(a: Array[String], b: Array[String]): java.lang.Double = {
    if (a == null || b == null) null
    else {
      val set = new java.util.HashSet[String](math.max(4, a.length * 2))
      var i = 0
      while (i < a.length) { set.add(a(i)); i += 1 }
      if (DebugChecks) {
        require(set.size == a.length,
          s"jaccardDistinct: left input has ${a.length - set.size} duplicate tokens")
        val bs = new java.util.HashSet[String](math.max(4, b.length * 2))
        var k = 0
        while (k < b.length) { bs.add(b(k)); k += 1 }
        require(bs.size == b.length,
          s"jaccardDistinct: right input has ${b.length - bs.size} duplicate tokens")
      }
      var inter = 0
      var j = 0
      while (j < b.length) { if (set.contains(b(j))) inter += 1; j += 1 }
      val uni = a.length + b.length - inter
      if (uni == 0) null else java.lang.Double.valueOf(inter.toDouble / uni)
    }
  }

  /** Exact shingle Jaccard of two texts — the near-dup verify in one
    * compiled call per candidate pair: `jaccardDistinct(shingles(a, n),
    * shingles(b, n))`, so the ratio is bit-identical to verifying two
    * shingle-array columns, but no shingle array is ever a column (none
    * is built for a document outside a candidate pair, none crosses an
    * exchange). Null when neither text has a shingle. */
  def shingleJaccard(a: String, b: String, n: Int): java.lang.Double =
    jaccardDistinct(shingles(a, n), shingles(b, n))

  /** LSH band keys of a signature: key b is exactly Spark's `xxhash64`
    * over elements [b·r, (b+1)·r) of the signature, r = |sig| / bands — XXH64
    * `hashLong` chained over the band's members from seed 42 — so band
    * indexes and stream states persisted by the expression form stay
    * valid. One pass over the signature, where the expression form
    * builds a sliced array per band and compiles each of them into the
    * generated class. A null signature (no shingles) has no bands. */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] =
    if (sig == null) null
    else {
      val rows = sig.length / bands
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var h = Seed
        var i = b * rows
        while (i < (b + 1) * rows) { h = hashLong(sig(i), h); i += 1 }
        out(b) = h
        b += 1
      }
      out
    }

  /** Candidate pairs of LSH buckets, walked off rows (band_sig, band,
    * doc_id) in which each bucket's rows are one contiguous run — a
    * partition sorted on its band key. A run of at most `maxBucket`
    * rows yields every pair (a, b) of its ids with a < b — the rule of a
    * band-key self-join filtered on `a_id < b_id`, without the join; a
    * longer run yields nothing. A null id counts toward the cap and pairs
    * with nothing, and so does a repeated one (a < b is strict). The ids
    * of a run may come in any order. Pairs of one bucket are emitted while
    * the walk holds the next bucket's first row; no run is buffered past
    * `maxBucket + 1` rows. */
  def bucketRunPairs(rows: Iterator[Row],
                     maxBucket: Int): Iterator[(java.lang.Long, java.lang.Long)] =
    new Iterator[(java.lang.Long, java.lang.Long)] {
      private val ids = new Array[Long](maxBucket)
      private var n = 0        // non-null ids of the current run
      private var pending: Row = if (rows.hasNext) rows.next() else null
      private var i = 0
      private var j = 1

      /** Reads the next run of at most `maxBucket` rows into `ids`; false
        * when the rows are exhausted. */
      private def nextRun(): Boolean = {
        var found = false
        while (!found && pending != null) {
          val sig = pending.getLong(0)
          val band = pending.getInt(1)
          var rowsInRun = 0
          n = 0
          var r = pending
          pending = null
          while (r != null) {
            rowsInRun += 1
            if (rowsInRun <= maxBucket && !r.isNullAt(2)) { ids(n) = r.getLong(2); n += 1 }
            r = if (rows.hasNext) rows.next() else null
            if (r != null && (r.getLong(0) != sig || r.getInt(1) != band)) {
              pending = r
              r = null
            }
          }
          found = rowsInRun <= maxBucket && n >= 2
        }
        i = 0
        j = 1
        found
      }

      /** Moves (i, j) to the run's next pair of distinct ids. */
      private def settle(): Boolean = {
        var ok = false
        while (!ok) {
          if (i >= n - 1) { if (!nextRun()) return false }
          else if (j >= n) { i += 1; j = i + 1 }
          else if (ids(i) == ids(j)) j += 1
          else ok = true
        }
        true
      }

      def hasNext: Boolean = settle()

      def next(): (java.lang.Long, java.lang.Long) = {
        if (!settle()) throw new NoSuchElementException
        val a = ids(i)
        val b = ids(j)
        j += 1
        if (a < b) (a, b) else (b, a)
      }
    }

  /** Per-document term frequencies: each distinct token of [[tokens]]
    * once, with its occurrence count. One hash-map pass per document,
    * where explode + groupBy(doc, token) shuffles every occurrence. */
  def termFreqs(text: String): Array[(String, Long)] = {
    val counts = new java.util.HashMap[String, Array[Long]]()
    val toks = tokenize(text)
    var i = 0
    while (i < toks.length) {
      val c = counts.get(toks(i))
      if (c == null) counts.put(toks(i), Array(1L)) else c(0) += 1
      i += 1
    }
    val out = new Array[(String, Long)](counts.size)
    var k = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out(k) = (e.getKey, e.getValue()(0)); k += 1 }
    out
  }

  // The UDFs of the lean minhash and tf-idf plans use Spark's Java UDF
  // form with an explicit result type: values convert through Catalyst's
  // type converters, where a typed Scala UDF over a string or array
  // builds an encoder (de)serializer — one more generated class per
  // argument and result type, in a workload whose generated classes
  // already fill Spark's code cache (BASELINE.md).

  /** `array<struct<token, tf>>`, both fields and the elements non-null —
    * the types `tokens` + `count` give. */
  val TermFreqType: ArrayType = ArrayType(StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  /** text → [[termFreqs]]. */
  val termFreqUdf: UserDefinedFunction =
    udf(new UDF1[String, Array[(String, Long)]] {
      def call(text: String): Array[(String, Long)] = termFreqs(text)
    }, TermFreqType)

  /** (a, b, n) → [[shingleJaccard]]. */
  val shingleJaccardUdf: UserDefinedFunction =
    udf(new UDF3[String, String, Integer, java.lang.Double] {
      def call(a: String, b: String, n: Integer): java.lang.Double = shingleJaccard(a, b, n)
    }, DoubleType)

  /** Band keys: `array<bigint>`, non-null elements, one per band. */
  private val BandKeysType = ArrayType(LongType, containsNull = false)

  /** (text, n, numHashes, bands) → the band keys of the text's
    * [[minhashSignature]] ([[bandKeys]]); null when it has no shingles. */
  val minhashBandsUdf: UserDefinedFunction =
    udf(new UDF4[String, Integer, Integer, Integer, Array[Long]] {
      def call(text: String, n: Integer, numHashes: Integer, bands: Integer): Array[Long] =
        bandKeys(minhashSignature(text, n, numHashes), bands)
    }, BandKeysType)

  /** (tokens, numHashes, bands) → the band keys of the token set's
    * [[minhashTokens]] signature ([[bandKeys]]); null when it is empty. */
  val tokenBandsUdf: UserDefinedFunction =
    udf(new UDF3[scala.collection.Seq[String], Integer, Integer, Array[Long]] {
      def call(toks: scala.collection.Seq[String], numHashes: Integer,
               bands: Integer): Array[Long] =
        bandKeys(minhashTokens(if (toks == null) null else toks.toArray, numHashes), bands)
    }, BandKeysType)

  val shingleUdf: UserDefinedFunction =
    udf((text: String, n: Int) => shingles(text, n))

  val jaccardUdf: UserDefinedFunction =
    udf((a: Seq[String], b: Seq[String]) => jaccardDistinct(
      if (a == null) null else a.toArray,
      if (b == null) null else b.toArray))

  val simhashUdf: UserDefinedFunction =
    udf((text: String) => simhash64(text))

  // -------------------------------------------------------------------
  // Rolling polynomial gram digests (the substring-dedup key kernel)
  // -------------------------------------------------------------------

  /** Mersenne prime 2⁶¹ − 1 — the classic rolling-hash modulus: mulmod
    * folds with shifts (2⁶⁴ ≡ 8), and mod-prime polynomial hashes have
    * the textbook ≤ (n−1)/p per-pair collision bound that power-of-two
    * moduli lack. */
  private val P61 = (1L << 61) - 1

  /** Two fixed odd bases < P61 (digits of π/e — nothing up the sleeve);
    * two independent evaluation points give a ~122-bit combined key. */
  private val B1 = 314159265358979323L
  private val B2 = 271828182845904523L

  private def mod61(x: Long): Long = { // x in [0, 2⁶³)
    val r = (x & P61) + (x >>> 61)
    if (r >= P61) r - P61 else r
  }

  /** (a·b) mod P61 for a, b ∈ [0, P61): the 122-bit product hi·2⁶⁴ + lo
    * folds as hi·8 + lo (2⁶⁴ ≡ 2³ mod P61); hi < 2⁵⁸ so hi·8 stays in a
    * long, and lo's top 3 bits ride in via the disjoint OR. */
  private def mulmod61(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    val r = mod61((hi << 3) | (lo >>> 61)) + (lo & P61)
    if (r >= P61) r - P61 else r
  }

  private def powmod61(b: Long, e: Int): Long = {
    var r = 1L; var x = b; var k = e
    while (k > 0) {
      if ((k & 1) == 1) r = mulmod61(r, x)
      x = mulmod61(x, x); k >>= 1
    }
    r
  }

  /** Positioned length-`n` gram digests of a document in ONE O(len)
    * pass — the rolling-hash replacement for materializing each gram's
    * text (×n token bytes per position) before digesting it (VERDICT
    * r11 #4). Per token, one xxhash64 reduced mod P61; per window, the
    * standard Rabin–Karp recurrence d(s+1) = (d(s) − h_s·Bⁿ⁻¹)·B +
    * h_(s+n) at two independent evaluation points (d1, d2) — a ~122-bit
    * combined key, so the digest-equality contract matches the md5
    * paths' "identical modulo digest collisions" (callers that promise
    * collision-PROOF results re-materialize gram text for COLLIDING
    * digests only and confirm exactly). Element i of the result is the
    * digest pair of the gram starting at token position i; empty for
    * docs shorter than n tokens. */
  def gramDigests(text: String, n: Int): Array[(Long, Long)] = {
    val toks = tokenize(text)
    val m = toks.length - n + 1
    if (m <= 0) return Array.empty
    val h = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { h(i) = mod61(hashString(toks(i), Seed) >>> 2); i += 1 }
    val out = new Array[(Long, Long)](m)
    val bn1a = powmod61(B1, n - 1)
    val bn1b = powmod61(B2, n - 1)
    var d1 = 0L; var d2 = 0L
    i = 0
    while (i < n) {
      d1 = mod61(mulmod61(d1, B1) + h(i))
      d2 = mod61(mulmod61(d2, B2) + h(i))
      i += 1
    }
    out(0) = (d1, d2)
    var s = 1
    while (s < m) {
      val drop = h(s - 1)
      d1 = mod61(mulmod61(mod61(d1 + P61 - mulmod61(drop, bn1a)), B1) + h(s + n - 1))
      d2 = mod61(mulmod61(mod61(d2 + P61 - mulmod61(drop, bn1b)), B2) + h(s + n - 1))
      out(s) = (d1, d2)
      s += 1
    }
    out
  }

  /** UDF form, `n` bound at plan build: text → array<struct<_1,_2>> of
    * positioned digest pairs (posexplode upstream). */
  def gramDigestsUdf(n: Int): UserDefinedFunction =
    udf((text: String) => gramDigests(text, n))

  /** Gopher repetition statistics (Rae et al. 2021, table A1) — ALL
    * per-document, so the scale-right plan is this zero-shuffle compiled
    * pass, not the 5-shuffle explode/groupBy/window relational form the
    * DuckDB oracle uses. One tokenization, one hash map per n.
    *
    * Returns 10 longs:
    *   [0]    total characters (sum of token code-point lengths; spaces
    *          and other separators excluded — the denominators),
    *   [1..3] n = 2..4: characters covered by the MOST frequent n-gram
    *          (count × gram token chars; ties on count break to the
    *          LARGEST gram in UTF-8 binary order — the rule the oracle's
    *          `ORDER BY cnt DESC, gram DESC` reproduces),
    *   [4..9] n = 5..10: characters of tokens covered by any n-gram that
    *          occurs more than once in the document (interval-union
    *          coverage, chars counted once however many duplicated grams
    *          overlap them — the paper's "taking care not to count
    *          characters in overlapping n-grams more than once").
    * Documents shorter than n tokens contribute 0 for that n. */
  def gopherRepetition(text: String): Array[Long] = {
    val toks = tokenize(text)
    val m = toks.length
    val lens = new Array[Long](m)
    var i = 0
    var total = 0L
    while (i < m) {
      lens(i) = toks(i).codePointCount(0, toks(i).length).toLong
      total += lens(i); i += 1
    }
    val out = new Array[Long](10)
    out(0) = total
    var n = 2
    while (n <= 10) {
      if (m >= n) {
        val starts = m - n + 1
        val grams = new Array[String](starts)
        val counts = new java.util.HashMap[String, Int](starts * 2)
        var s = 0
        while (s < starts) {
          val sb = new java.lang.StringBuilder(toks(s))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(s + j)); j += 1 }
          val g = sb.toString
          grams(s) = g
          counts.merge(g, 1, Integer.sum)
          s += 1
        }
        if (n <= 4) {
          var bestG: String = null
          var bestC = 0
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue
            if (c > bestC ||
                (c == bestC && graft.ops.Corpus.utf8Compare(e.getKey, bestG) > 0)) {
              bestC = c; bestG = e.getKey
            }
          }
          // gram token chars = rendered code points minus the n-1 spaces
          val gchars = bestG.codePointCount(0, bestG.length).toLong - (n - 1)
          out(n - 1) = bestC.toLong * gchars
        } else {
          val covered = new Array[Boolean](m)
          var s2 = 0
          while (s2 < starts) {
            if (counts.get(grams(s2)) > 1) {
              var k = s2
              while (k < s2 + n) { covered(k) = true; k += 1 }
            }
            s2 += 1
          }
          var chars = 0L
          var k = 0
          while (k < m) { if (covered(k)) chars += lens(k); k += 1 }
          out(n - 1) = chars
        }
      }
      n += 1
    }
    out
  }

  val gopherRepetitionUdf: UserDefinedFunction =
    udf((text: String) => gopherRepetition(text))
}

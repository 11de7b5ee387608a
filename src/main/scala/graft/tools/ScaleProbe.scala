package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.Stage._

/** 20× scale probe — empirical evidence that the operators' 100 TB design
  * arguments hold beyond the fixture sizes. Builds a synthetic corpus
  * `MULT`× the given scale-factor directory (default 20× sf0.1), then
  * times the probed operators end to end on it at `SPARK_GRAFT_CPUS`
  * cores.
  *
  * Corpus construction mirrors the round-3 probe so numbers stay
  * comparable across rounds: each document is replicated MULT times —
  * half as EXACT copies (stressing the dedup group/join paths with real
  * duplicate mass) and half perturbed with a replica-unique suffix
  * (stressing the distinct-key volume); doc_ids are remapped to stay
  * unique. Events and customer are replicated with shifted ids (events
  * keep their nanos-long ts representation so `Tables.events` reads the
  * probe dir exactly like a fixture dir).
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir] [mult] [outDir]
  * Prints one `probe <name> <seconds>` line per operator plus a final
  * JSON summary; results belong in NOTES.md's scale-probe table.
  */
object ScaleProbe {

  /** Vocabulary-rich documents dir for the BPE probe arms, derived from
    * the probe corpus: each document's text is rewritten as its adjacent
    * token pairs COMPOUNDED ("spark window" → "sparkwindow ..."), lifting
    * the vocabulary from ~90 types to ~8k so production merge counts
    * (512) have material to learn from. Deterministic; built once per
    * probe dir. */
  private def bpeRichCorpus(spark: SparkSession, outDir: String): String = {
    val bdir = s"$outDir/bpe_docs"
    if (!new java.io.File(s"$bdir/documents.parquet/_SUCCESS").exists()) {
      graft.Tables.parquet(spark, s"$outDir/documents.parquet")
        .withColumn("toks", graft.functions.TextKernels.tokens(col("text")))
        .filter(expr("size(toks) >= 2"))
        .select(col("doc_id"),
          expr("array_join(transform(sequence(1, size(toks) - 1)," +
            " i -> concat(toks[i-1], toks[i])), ' ')").as("text"),
          col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$bdir/documents.parquet")
    }
    bdir
  }

  /** Streaming embedding-LSH at `mult`× vector scale: 16 id-local
    * micro-batches over a replicated corpus (BASE-MAJOR ids: vec_id =
    * base·mult + rep, so each batch carries whole near-dup families).
    * Half the replicas are exact copies, half a reversed+jittered second
    * family — realistic dup density on both sides of the verify.
    * Per-batch embepochNNN phases are the scaling-curve evidence;
    * `bits` ≤ 0 = adaptive. */
  private def embStreamArm(spark: SparkSession, sfDir: String,
                           reps: org.apache.spark.sql.DataFrame,
                           mult: Int, bits: Int): Long = {
    val e = graft.Tables.parquet(spark, s"$sfDir/embeddings.parquet")
    val nV = e.count()
    val vecs = e.crossJoin(broadcast(reps))
      .select((col("vec_id") * mult + col("rep")).as("vec_id"),
        when(col("rep") < mult / 2, col("embedding"))
          .otherwise(expr(
            s"""transform(reverse(embedding), (x, i) ->
               |  CASE WHEN i = 0 THEN CAST(x + rep / $mult.0 AS FLOAT)
               |  ELSE x END)""".stripMargin)).as("embedding"))
      .stage()
    val base = TempDirs.createFast("graft-embstream-probe")
    try {
      val statePath = s"$base/state"
      val span = nV * mult
      // bits ≤ 0 keeps the HISTORICAL per-fraction width here as the
      // contrast arm (19–21 at 100×, epochs grow) — the operator's own
      // default is now Dedup.streamLshBits (= the flat 24-bit arm below)
      val b = if (bits > 0) bits
              else graft.ops.Similarity.adaptiveLshBits(span, 4, 2)
      val width = span / 16 + 1
      (0 until 16).foreach { k =>
        graft.ops.Dedup.embeddingStreamApplyBatch(
          vecs.filter(col("vec_id") >= k * width &&
            col("vec_id") < (k + 1) * width),
          k, statePath, threshold = 0.9, tables = 4, bits = b,
          probes = 2, compactEvery = 4, idSpan = span)
      }
      LogState.readAsOf(spark, s"$statePath/survivors", 15L).count()
    } finally TempDirs.deleteRecursively(base)
  }

  /** Battery arms that run a registered query exactly as Verify and Bench
    * do (its registered arguments) on the probe corpus, checked against
    * `SparkEntry.queries` at start-up. They run AFTER the special arms, in
    * this order: text_hybrid_retrieval reuses the BM25 index whose cold
    * build text_bm25_index_build times, and graph_pagerank_incr reuses
    * graph_pagerank's edge/rank artifacts, as a production refresh reuses
    * yesterday's. */
  private val RegisteredArms = Seq(
    "corpus_pack", "corpus_budget", "corpus_balance", "corpus_shard",
    "corpus_vocab_prune", "corpus_shuffle_epochs", "corpus_chunk",
    "pipeline_shards", "corpus_mix", "corpus_curriculum",
    // stratified sampling is the no-shuffle floor: one predicate scan
    "corpus_sample_stratified",
    "dedup_exact",
    // span removal on the replica corpus — the WORST case for the digest
    // pre-filter (half the corpus is exact copies, so nearly every gram
    // digest repeats); bounded time shows the sort/groupBy plan carries
    // even total-duplication corpora without an all-pairs term
    "dedup_substring",
    // banned set = ~12.5% of docs' grams; cost should track dedup_substring
    "dedup_decontaminate",
    "dedup_fuzzy", "dedup_minhash", "dedup_simhash",
    // (source, shingle) distinct + shingle-keyed pair join must stay
    // linear-ish in shingle mass (fan-out ≤ |sources| = 20 here)
    "dedup_overlap_matrix",
    // cold BM25: tf/df aggregations shuffle O(distinct (doc, token)); time
    // should track the tf aggregation, near-linear in token mass
    "text_bm25",
    // zero-shuffle compiled kernels: any super-linear bend means a kernel
    // left codegen or the plan grew a shuffle
    "text_gopher_rep", "text_dsir",
    // one corpus pass + the per-text dedup window (≈ text_gopher_rep + an
    // exchange); the full curation chain should sit near pipeline_fineweb
    // + text_dsir + decontam windows over the SHRINKING survivor chain
    "pipeline_fineweb", "pipeline_curation",
    // fusion is O(queries·k); the BM25 and dense legs dominate
    "text_hybrid_retrieval",
    "text_tfidf", "text_inverted_index", "text_langid",
    "mm_decode_real", "mm_audio_windows",
    // warm-started rank refresh: refresh_steps vs graph_pagerank's
    // supersteps phase is the recurring-cost contrast
    "graph_pagerank", "graph_pagerank_incr",
    "q67_upsert_merge")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).flatMap(_.toIntOption).getOrElse(20)
    val outDir = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-scale").toString)
    // optional 4th arg: comma-separated probe names to run ("paged" gates
    // the streaming block). Empty/absent = run everything. A 100× run of
    // just the superlinear-risk pipelines doesn't need the full battery.
    val only = args.lift(3).map(_.split(",").filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    def want(n: String) = only.isEmpty || only.contains(n)
    val registered = graft.SparkEntry.resolve(RegisteredArms)
    // The heap comes from -Xmx${SPARK_DRIVER_MEM} (build.sbt): in local
    // mode the JVM is already running when the builder reads its conf, so
    // spark.driver.memory here would be a no-op.
    val spark = graft.Session.create(graft.Session.cores,
      // shuffle/spill scratch on tmpfs when the machine has one — the
      // pair-heavy 100× arms write tens of GB of shuffle; on the shared
      // sandbox the root disk swings probe numbers 1.5–2.4× run to run
      // (measured on dedup_minhash 100×: 146.7 s disk-corpus vs 91.9 s
      // tmpfs-corpus, same code). A real cluster's local SSDs are the
      // analogue; the probe should measure the OPERATOR, not /dev/vda.
      _.config("spark.local.dir",
        TempDirs.createFastForJvm("graft-spark-local")))

    val reps = spark.range(mult).withColumnRenamed("id", "rep")

    // The synthetic corpus is a deterministic function of (sfDir, mult):
    // when the outDir already holds a finished build OF THE SAME ARGS,
    // reuse it — repeated probe invocations then measure only the
    // operators, not the corpus write. The sentinel records the args: a
    // bare _SUCCESS check would happily reuse a 20× corpus for a run
    // labeled 100× and silently mislabel every number.
    val sentinel = new java.io.File(outDir, ".corpus-args")
    val wantArgs = s"$sfDir|$mult"
    val corpusReady = sentinel.exists() &&
      java.nio.file.Files.readString(sentinel.toPath).trim == wantArgs
    if (corpusReady) println(s"probe corpus reused at $outDir ($wantArgs)")

    // documents: MULT copies per doc; rep < MULT/2 exact, rest perturbed
    val docs = graft.Tables.parquet(spark, s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    if (!corpusReady) {
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep") * nDocs).as("doc_id"),
        when(col("rep") < mult / 2, col("text"))
          .otherwise(concat(col("text"), lit(" zq"), col("rep"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    }

    // events: shifted ids/users, ts kept as NANOS LONG (fixture encoding)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = graft.Tables.parquet(spark, s"$sfDir/events.parquet")
    val nEv = events.count()
    if (!corpusReady) {
    val maxUser = events.agg(max("user_id")).head.getLong(0) + 1
    events.crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("rep") * nEv).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // customer: shifted keys (q67 merges events into customer)
    val cust = graft.Tables.parquet(spark, s"$sfDir/customer.parquet")
    val maxCust = cust.agg(max("c_custkey")).head.getLong(0) + 1
    cust.crossJoin(broadcast(reps))
      .select(
        (col("c_custkey") + col("rep") * maxCust).as("c_custkey"),
        concat(col("c_name"), lit("#"), col("rep")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
    // args sentinel LAST — a crashed partial build never matches
    java.nio.file.Files.writeString(sentinel.toPath, wantArgs)
    }

    // embeddings: rep-shifted ids (queries vec_id < 8 stay the fixture
    // queries), labels mod 10 — the filtered-ANN / hybrid arms' corpus.
    // Same args-sentinel scheme as the tables above (ADVICE r17: a bare
    // existence check would keep an old-multiplier embeddings table
    // beside freshly rebuilt documents/events and silently skew the
    // hybrid/filtered arms' relative timings). Sentinel written LAST.
    val embSentinel = new java.io.File(outDir, ".embeddings-args")
    val embReady = embSentinel.exists() &&
      java.nio.file.Files.readString(embSentinel.toPath).trim == wantArgs
    if (!embReady) {
      val embT = graft.Tables.parquet(spark, s"$sfDir/embeddings.parquet")
      val nVec = embT.count()
      embT.crossJoin(broadcast(reps))
        .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
          col("embedding"))
        .withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
      java.nio.file.Files.writeString(embSentinel.toPath, wantArgs)
    }

    println(s"probe corpus at $outDir: ${nDocs * mult} docs, ${nEv * mult} events")

    /** Shared driver for the sparse-traffic CDC arms: full-corpus load at
      * batch 0, then 12 key-local batches rotating over four adjacent
      * ~1/64-span key bands. Same batches for every arm, so the
      * epoch/compaction phase splits are directly comparable. `wide`
      * re-keys on event_id (10 M distinct keys at 100×) — the
      * state ≫ batch regime where maintenance cost pricing in state vs
      * touched-partition size separates on wall time, not just bytes.
      * Also prints cumulative STATE BYTES WRITTEN (every file that ever
      * appeared under the state root): the write-amplification metric —
      * wall times share a per-job floor at small state, written bytes
      * don't. */
    def sparseUpsertLoop(sp: SparkSession, dir: String, statePath: String,
                         wide: Boolean,
                         apply: (DataFrame, Long) => Unit,
                         readBack: () => Long): Long = {
      val raw = graft.Tables.events(sp, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val ev = if (wide) raw.withColumn("user_id", col("event_id")) else raw
      val span = ev.agg(max("user_id")).head.getLong(0) + 1
      var seen = Set.empty[String]
      var written = 0L
      def track(): Unit = {
        val p = java.nio.file.Paths.get(statePath)
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator())
            .asScala
            .filter(java.nio.file.Files.isRegularFile(_)).foreach { f =>
              val k = f.toString
              if (!seen(k)) { seen += k; written += java.nio.file.Files.size(f) }
            }
          finally walk.close()
        }
      }
      apply(ev, 0L); track()
      val width = math.max(1L, span / 64)
      (1 to 12).foreach { i =>
        val lo = ((i - 1) % 4) * width
        apply(ev.filter(col("user_id") >= lo && col("user_id") < lo + width),
          i.toLong)
        track()
      }
      val rows = readBack()
      println(f"probe   sparse state written ${written / 1e6}%10.1f MB")
      rows
    }

    def sparseArm(sp: SparkSession, dir: String, wide: Boolean,
                  q95: Boolean): Long = {
      val state = TempDirs.createFast("graft-sparse") + "/state"
      val policy: graft.ops.CdcUpsert.Policy =
        if (q95) graft.ops.CdcUpsert.Mor(4)
        else graft.ops.CdcUpsert.Partitioned(numPartitions = 64, maxDeltas = 4)
      val n = sparseUpsertLoop(sp, dir, state, wide,
        (b, id) => graft.ops.CdcUpsert.applyBatch(b, id, state, policy),
        () => graft.ops.CdcUpsert.stateAsOf(sp, state, Long.MaxValue, policy)
          .get.count())
      TempDirs.deleteRecursively(state)
      n
    }

    /** Replicated embedding corpus for the SemDeDup arms — BASE-MAJOR
      * ids (vec_id = base·mult + rep): replicas adjacent, identity
      * clusters whole, so an id-tail delta touches ~delta-fraction of
      * clusters. Cached in outDir like the text corpus, so repeat probe
      * runs (and the incremental arm's ArtifactCache artifacts, which
      * live beside it) measure operators, not corpus writes. */
    def semEmbCorpus(): (String, Long) = {
      val e = graft.Tables.parquet(spark, s"$sfDir/embeddings.parquet")
      val nV = e.count()
      val edir = s"$outDir/semprobe"
      val sent = new java.io.File(edir, ".corpus-args")
      if (!(sent.exists() &&
          java.nio.file.Files.readString(sent.toPath).trim == wantArgs)) {
        e.crossJoin(broadcast(reps))
          .select((col("vec_id") * mult + col("rep")).as("vec_id"),
            col("embedding"))
          .withColumn("label", pmod(col("vec_id"), lit(10)).cast("int"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$edir/embeddings.parquet")
        java.nio.file.Files.writeString(sent.toPath, wantArgs)
      }
      (edir, nV * mult)
    }

    def time(name: String)(f: => Long): (String, Double, Long) = {
      PhaseTiming.drain() // drop leftovers from the prior probe
      val t0 = System.nanoTime()
      val rows = f
      val t = (System.nanoTime() - t0) / 1e9
      println(f"probe $name%-22s $t%8.1f s  ($rows rows)")
      // operators that record phases (artifact builds, supersteps) show
      // the split here — which term dominates IS the probe's finding
      PhaseTiming.drain().toSeq.sortBy(_._1).foreach { case (k, v) =>
        println(f"probe   phase $k%-20s $v%8.1f s")
      }
      (name, t, rows)
    }

    // ---- DSv2 paged source/sink streaming probe (round-6 VERDICT ask):
    // many pages, multiple epochs, a FORCED engine-level epoch replay, and
    // a read-back fingerprint against the batch aggregate. This is the
    // stream-in/stream-out shape of q84/q85 at ~500+ pages instead of 5.
    val pagedResults = if (!want("paged")) Seq.empty else {
      import graft.sources.PagedTableSource
      val src = s"$outDir/paged_src"
      val dst = s"$outDir/paged_dst"
      val ck = s"$outDir/paged_ck"
      val waves = 5
      val pagesPerWave = 125
      val ev = graft.Tables.parquet(spark, s"$outDir/events.parquet")
        .select(col("event_id").cast("string").as("event_id"),
          col("user_id").cast("string").as("user_id"),
          col("event_type"),
          col("value").cast("string").as("value"))
      def startStream() =
        spark.readStream.format("graft.sources.PagedTableSource").load(src)
          .writeStream.format("graft.sources.PagedTableSource")
          .option("path", dst).option("checkpointLocation", ck)
          .outputMode("append").start()
      def fingerprint(df: DataFrame): (Long, Long) = {
        // mod-prime before summing: ANSI long-sum of raw 64-bit hashes
        // overflows; the modular sum still catches any lost/duplicated row
        // (unlike XOR, where a duplicated row cancels itself out)
        val r = df.agg(count(lit(1)),
          sum(pmod(xxhash64(col("event_id"), col("user_id"), col("event_type"),
            col("value")), lit(1000000007L)))).head
        (r.getLong(0), r.getLong(1))
      }
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val wavesRes = time("paged_stream_waves") {
        (0 until waves).foreach { w =>
          ev.filter(pmod(col("event_id").cast("long"), lit(waves)) === w)
            .repartition(pagesPerWave)
            .write.mode("append").format("graft.sources.PagedTableSource")
            .option("path", src).save()
          if (w == 0) q = startStream() // schema discovery needs page 0
          q.processAllAvailable() // ≥1 epoch per wave
        }
        q.stop()
        PagedTableSource.pageFiles(dst).size.toLong
      }
      val replayRes = time("paged_epoch_replay") {
        // Drop the engine's LAST commit-log entry: on restart the engine
        // re-runs that batch and re-calls the sink's commit with the SAME
        // epoch id — the published-epoch marker must make it a no-op.
        val commits = new java.io.File(s"$ck/commits").listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
        require(commits.nonEmpty, "no commits to replay")
        val lastCommit = commits.last
        require(lastCommit.delete(), "could not drop last commit entry")
        // drop the local-FS checksum sidecar too, or the replayed
        // metadata-log rename collides with the stale .N.crc
        new java.io.File(lastCommit.getParentFile, s".${lastCommit.getName}.crc").delete()
        val q2 = startStream()
        q2.processAllAvailable()
        q2.stop()
        PagedTableSource.pageFiles(dst).size.toLong
      }
      val verifyRes = time("paged_readback_verify") {
        val srcFp = fingerprint(
          spark.read.format("graft.sources.PagedTableSource").load(src))
        val dstFp = fingerprint(
          spark.read.format("graft.sources.PagedTableSource").load(dst))
        require(srcFp == dstFp,
          s"exactly-once violated after replay: src=$srcFp dst=$dstFp")
        val sidecar = PagedTableSource.readCount(dst)
        require(sidecar == dstFp._1,
          s"_count sidecar $sidecar != actual rows ${dstFp._1}")
        dstFp._1
      }
      println(s"probe paged: ${PagedTableSource.pageFiles(src).size} src pages → " +
        s"${PagedTableSource.pageFiles(dst).size} dst pages, replay idempotent")
      Seq(wavesRes, replayRes, verifyRes)
    }

    // ---- Id-local streaming dedup probe (VERDICT r8 #8): the shingle
    // store's pruned verify read claims to pay ∝ candidate LOCALITY, but
    // the replica corpus above defeats pruning by construction — doc X's
    // replicas sit at X, X+nDocs, X+2·nDocs, …, so every batch's
    // candidates span the whole id space and the verify must read every
    // partition holding state. Here replicas are ADJACENT
    // (doc_id = X·mult + rep): each streamed chunk holds whole near-dup
    // clusters, the candidate ids fall inside the batch's own range, and
    // the per-batch buckets-read counter (RoutingMetrics `sh_read_bNNN`)
    // should stay ~flat near the batch's own partition count while the
    // store grows — measured against the replica-corpus arm at the same
    // chunk count, where it should track the store's full occupied width.
    val idlocalResults = if (!want("stream_idlocal")) Seq.empty else {
      val ildir = s"$outDir/idlocal"
      val sent2 = new java.io.File(ildir, ".corpus-args")
      // v2: SYNTHETIC cluster texts, not replicated fixture texts — the
      // fixture corpus carries its own cross-doc near-dup mass, which
      // replication smears across every id range (first measurement:
      // 88% of partition listings read — genuine cross-batch candidates,
      // not a pruning failure). Cluster texts are hash-derived from the
      // base id, so distinct clusters are shingle-disjoint w.h.p. and
      // the TRUE candidate set is id-local by construction.
      val wantArgs2 = s"$wantArgs|synthetic-v2"
      if (!(sent2.exists() &&
          java.nio.file.Files.readString(sent2.toPath).trim == wantArgs2)) {
        val toks = (0 until 24).map(i => expr(
          s"substring(sha2(concat('t', CAST(base_id AS STRING), ':', $i), 256), 1, 12)"))
        docs.select(col("doc_id").as("base_id")).crossJoin(broadcast(reps))
          .withColumn("base_text", concat_ws(" ", toks: _*))
          .select(
            (col("base_id") * mult + col("rep")).as("doc_id"),
            when(col("rep") < mult / 2, col("base_text"))
              .otherwise(concat(col("base_text"), lit(" zq"), col("rep")))
              .as("text"))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$ildir/documents.parquet")
        java.nio.file.Files.writeString(sent2.toPath, wantArgs2)
      }
      def pruneReport(arm: String): Unit = {
        val rm = RoutingMetrics.drain()
        rm.toSeq.filter(_._1.startsWith("sh_read_b")).sortBy(_._1)
          .foreach { case (k, v) => println(f"probe   $arm $k ${v}%3d buckets read") }
        val read = rm.getOrElse("sh_buckets_read", 0L)
        val avail = rm.getOrElse("sh_buckets_total", 0L)
        println(f"probe   $arm verify listings: $read of $avail occupied " +
          f"partition-listings (${100.0 * read / math.max(1, avail)}%.0f%%)")
      }
      RoutingMetrics.drain()
      val local = time("dedup_stream_idlocal") {
        graft.ops.Dedup.minhashStream(spark, ildir, chunks = 16).count()
      }
      pruneReport("idlocal ")
      // streaming SPAN dedup on the same id-local corpus: contiguous-id
      // batches keep each epoch's affected set inside its own cluster
      // range — per-epoch cost should stay flat as the occs log grows
      val localSub = time("dedup_stream_substring") {
        graft.ops.Dedup.substringStream(spark, ildir, epochs = 8,
          byRange = true).count()
      }
      val replica = time("dedup_stream_replica16") {
        graft.ops.Dedup.minhashStream(spark, outDir, chunks = 16).count()
      }
      pruneReport("replica ")
      Seq(local, localSub, replica)
    }

    // ---- Dominant-stratum corpus probe (round-10 VERDICT ask): the
    // uniform 5-language corpus above never exercises the failure mode
    // the two-level prefix-sum form exists for — a real pretraining
    // corpus is ~50–90% one language. This block rewrites the probe
    // corpus 84%-one-stratum and contrasts the naive
    // one-window-task-per-stratum rank with the shipped two-level form
    // on the SAME frame (tokenization-free, so the window is the whole
    // cost), then runs the shipped corpus operators end to end on the
    // skewed corpus. Beside wall time it prints the rows the biggest
    // single window task sorts — the term that scales with corpus size
    // in the naive form and with corpus/|buckets| in the two-level form.
    val dominantResults = if (!want("dominant")) Seq.empty else {
      val ddir = s"$outDir/dominant"
      val sentD = new java.io.File(ddir, ".corpus-args")
      val wantD = s"$wantArgs|dominant-v1"
      if (!(sentD.exists() &&
          java.nio.file.Files.readString(sentD.toPath).trim == wantD)) {
        graft.Tables.parquet(spark, s"$outDir/documents.parquet")
          .withColumn("lang",
            when(pmod(col("doc_id"), lit(100)) < 84, lit("en"))
              .otherwise(element_at(
                array(lit("de"), lit("es"), lit("fr"), lit("zh")),
                (pmod(col("doc_id"), lit(4)) + 1).cast("int"))))
          .withColumn("source",
            when(pmod(col("doc_id"), lit(100)) < 84, lit("crawl"))
              .otherwise(concat(lit("s"), pmod(col("doc_id"), lit(4)))))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$ddir/documents.parquet")
        java.nio.file.Files.writeString(sentD.toPath, wantD)
      }
      val docsD = graft.Tables.parquet(spark, s"$ddir/documents.parquet")
        .select(col("lang"), col("doc_id"))
      def maxTaskRows(keys: org.apache.spark.sql.Column*): Long =
        docsD.withColumn("__b",
            substring(md5(col("doc_id").cast("string")), 1,
              graft.ops.TwoLevel.Md5PrefixChars))
          .groupBy(keys: _*).count().agg(max("count")).head.getLong(0)
      println(f"probe dominant biggest window task: naive " +
        f"${maxTaskRows(col("lang"))}%d rows, two-level " +
        f"${maxTaskRows(col("lang"), col("__b"))}%d rows")
      val naive = time("dom_rank_naive") {
        import org.apache.spark.sql.expressions.Window
        docsD.withColumn("rk", row_number().over(Window.partitionBy("lang")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
          .filter(col("rk") <= 40).count()
      }
      val two = time("dom_rank_twolevel") {
        graft.ops.TwoLevel.rank(
            graft.ops.TwoLevel.withMd5Bucket(docsD,
              col("doc_id").cast("string"), "__o", "__b"),
            Seq("lang"), "__b", Seq(col("__o"), col("doc_id")), "rk")
          .filter(col("rk") <= 40).count()
      }
      val ops = Seq(
        "dom_corpus_mix"     -> (() => graft.ops.Corpus.mixWeights(spark, ddir).count()),
        "dom_corpus_split"   -> (() => graft.ops.Corpus.splitTrainValTest(spark, ddir).count()),
        "dom_corpus_balance" -> (() => graft.ops.Corpus.balanceByLang(spark, ddir).count()),
        "dom_corpus_pack"    -> (() => graft.ops.Corpus.packSequences(spark, ddir).count()),
      ).map { case (n, f) => time(n)(f()) }
      Seq(naive, two) ++ ops
    }

    // ---- Many-source overlap probe: |sources| = 500 with a universal
    // stop-shingle appended to EVERY document — the regime whose
    // |sources|²-per-stop-shingle join fan-out the r9 verdict flagged.
    // The restructured overlapMatrix holds one ≤|sources|-entry set per
    // shingle and explodes pairs straight into a map-side partial
    // aggregate, so this must stay near the 20-source probe's cost, not
    // 625× it.
    val manysrcResults = if (!want("manysrc")) Seq.empty else {
      val mdir = s"$outDir/manysrc"
      val sentM = new java.io.File(mdir, ".corpus-args")
      val wantM = s"$wantArgs|manysrc-v1"
      if (!(sentM.exists() &&
          java.nio.file.Files.readString(sentM.toPath).trim == wantM)) {
        graft.Tables.parquet(spark, s"$outDir/documents.parquet")
          .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(500))))
          // one 3-token shingle present in EVERY document of EVERY source
          .withColumn("text", concat(col("text"), lit(" uq vq wq")))
          .repartition(32)
          .write.mode("overwrite").parquet(s"$mdir/documents.parquet")
        java.nio.file.Files.writeString(sentM.toPath, wantM)
      }
      Seq(time("overlap_manysrc500") {
        graft.ops.Dedup.overlapMatrix(spark, mdir).count()
      })
    }

    val battery: Seq[(String, () => Long)] = Seq(
      // incremental span-dedup recurring term: history artifacts build on
      // the first call (*.build phases), then the delta ingest pays delta
      // grams + AFFECTED-doc re-windowing (deltaOnly returns the
      // recomputed frame — the recurring cost, comparable against
      // dedup_substring's full pass). Delta choice matters exactly
      // as for dedup_incr_minhash: a refresh-shaped tail of the LAST
      // replica (5% of base docs) keeps affected ≈ those base docs'
      // replicas — a whole-replica delta would share spans with every
      // replica and force a full recompute by construction.
      "dedup_incr_substring" -> (() => graft.ops.Dedup.substringIncremental(
        spark, outDir, splitId = nDocs * mult - nDocs / 20,
        deltaOnly = true).count()),
      // the PRODUCTION span length (~50 BPE tokens, Lee et al.) on a
      // long-document corpus (8 probe docs concatenated per row → ~400
      // tokens/doc): the regime where the old windowed gram-string build
      // materialized ~50 × token-bytes per position and the rolling-hash
      // kernel (VERDICT r11 #4) digests each window in O(1) — compare
      // against dedup_substring's n=12 short-doc arm across rounds
      "dedup_substring_n50" -> (() => {
        val ldir = s"$outDir/longdocs"
        if (!new java.io.File(s"$ldir/documents.parquet/_SUCCESS").exists()) {
          graft.Tables.parquet(spark, s"$outDir/documents.parquet")
            .groupBy((col("doc_id") % lit(nDocs * mult / 8)).as("doc_id"))
            .agg(concat_ws(" ", collect_list(col("text"))).as("text"),
              first(col("lang")).as("lang"), first(col("source")).as("source"))
            .withColumn("n_chars", length(col("text")))
            .write.mode("overwrite").parquet(s"$ldir/documents.parquet")
        }
        graft.ops.Dedup.substringDedup(spark, ldir, n = 50).count()
      }),
      // BM25 index lifecycle at corpus scale (VERDICT r12 #8): the cold
      // text_bm25 arm pays the tf/df/dl aggregations EVERY query; these two
      // split the train-once cost from the recurring term. _index_build
      // runs bm25Indexed with cold artifacts (aggregations + index
      // writes); _indexed immediately reruns it against the now-warm
      // artifacts — scoring-only, the cost a retrieval service pays per
      // query once the index exists. The _indexed:_index_build ratio is
      // the lifecycle claim's scale number.
      "text_bm25_index_build" -> (() =>
        graft.ops.TextAnalysis.bm25Indexed(spark, outDir).count()),
      "text_bm25_indexed"  -> (() =>
        graft.ops.TextAnalysis.bm25Indexed(spark, outDir).count()),
      "dedup_incremental"  -> (() => graft.ops.Dedup.incremental(spark, outDir, (nDocs * mult) / 2).count()),
      // Incremental band-index maintenance: the one-time historical build
      // shows up as *.build phases; the REMAINDER is the recurring delta
      // ingest. Delta choice matters in THIS corpus: ids group by replica
      // (id = base + rep·nDocs), so a whole-replica delta would touch
      // every near-dup cluster and the verify side would pay full-corpus
      // mass — a refresh-shaped delta is a TAIL of the last replica,
      // touching only that fraction of clusters. Two sizes (5% and 10% of
      // clusters): the delta terms' ~1:2 ratio, both ≪ dedup_minhash's
      // full-rebuild time, is the "delta cost ∝ delta (touched-cluster)
      // size, not corpus size" evidence.
      // deltaOnly: the probe measures the RECURRING term (new pairs), not
      // the corpus-proportional re-emission of history ∪ delta the gate
      // form pays for its deterministic full-result oracle.
      "dedup_incr_minhash" -> (() => graft.ops.Dedup.minhashIncremental(
        spark, outDir, splitId = nDocs * mult - nDocs / 20,
        deltaOnly = true).count()),
      "dedup_incr_minhash10" -> (() => graft.ops.Dedup.minhashIncremental(
        spark, outDir, splitId = nDocs * mult - nDocs / 10,
        deltaOnly = true).count()),
      // streaming near-dup dedup end to end: 8 micro-batches, each
      // probing and extending the persistent band index — the ingest-time
      // shape; per-batch cost should track batch size + touched slice
      "dedup_stream_minhash" -> (() => graft.ops.Dedup.minhashStream(
        spark, outDir, chunks = 8).count()),
      // streaming EMBEDDING-LSH at 100× vector scale: 200 k vectors in
      // 16 id-local micro-batches (BASE-MAJOR ids: vec_id = base·mult +
      // rep, so each batch carries whole near-dup families — the
      // id-local regime where epochs must stay FLAT as the index
      // grows; per-batch embepochNNN phases are the evidence). Half the
      // replicas are exact copies, half a reversed+jittered second
      // family — realistic dup density on both sides of the verify.
      "dedup_stream_embedding" -> (() =>
        embStreamArm(spark, sfDir, reps, mult, bits = -1)),
      // the BIT-WIDTH DIAL arm: streaming LSH per-epoch cost has a
      // hist×delta collision term ∝ ball/2^bits — adaptive bits (sized
      // for a 5% candidate fraction over ALL pairs) admit per-epoch
      // growth; widening the signature shrinks it ~2^Δbits× at zero
      // recall cost on EXACT dups (identical vectors collide at any
      // width). The two arms' epoch curves are the dial's evidence.
      "dedup_stream_embedding_wide" -> (() =>
        embStreamArm(spark, sfDir, reps, mult, bits = 24)),
      // URL tier at corpus scale (VERDICT r14 #4): canonicalization is a
      // compiled per-row kernel (no shuffle), dedup groups on md5
      // digests — cold cost should track corpus size linearly. Prints
      // the distinct-canonical-URL count: the tier's winners artifact is
      // O(distinct URLs), the state-size number worth pinning (the
      // planted corpus has one canonical URL per 4 docs, so ~125k
      // winners at 100×).
      "text_url_dedup"     -> (() => {
        // ONE execution for both numbers — a second .count() over the
        // frame would re-run the kernel + dedup DAG and double the
        // arm's wall clock
        val r = graft.ops.UrlCuration.queries("text_url_dedup")(
            spark, outDir)
          .agg(count(lit(1)).as("n"),
            sum(col("keep").cast("long")).as("kept")).head
        val (n, kept) = (r.getLong(0), r.getLong(1))
        println(s"probe   text_url_dedup docs=$n distinct_urls=$kept " +
          s"winners_frac=${kept.toDouble / n}")
        n
      }),
      // streaming URL dedup over 16 id-local epochs: per-epoch
      // urlepochNNN phases must stay FLAT — each epoch pays batch
      // canonicalization + one anti-join against the slim (digest,
      // keep_id) winners log; history never re-canonicalizes
      "text_url_dedup_stream16" -> (() =>
        graft.ops.UrlCuration.urlDedupStream(spark, outDir,
          epochs = 16).count()),
      // streaming domain cap over 16 epochs: per-epoch dcapepochNNN
      // phases must stay flat — per-epoch work is one batch-sized
      // TwoLevel rank; state is bounded at K·domains candidates plus
      // the count-sum log, so compaction folds are O(K·domains), not
      // O(corpus). The planted corpus's 7 domains at ~71k docs/domain
      // is the extreme-skew regime the bucket-rank exists for.
      "corpus_domain_cap_stream16" -> (() =>
        graft.ops.UrlCuration.domainCapStream(spark, outDir,
          epochs = 16).count()),
      // BPE training at a production-shaped merge count (VERDICT r11 #1).
      // The replica corpus's ~90-type vocabulary exhausts after ~173
      // merges, so the BPE arms train on a DERIVED vocabulary-rich corpus
      // (adjacent tokens compounded → ~8k word types) built from the
      // probe documents. corpus_bpe512 takes the fits-the-driver path:
      // ONE distributed type-table build + O(1) driver actions for all
      // 512 merges (phases bpe_collect / bpe_train_local; the
      // spark_rounds print is the jobs ≪ merges evidence).
      "corpus_bpe512"      -> (() => {
        val bdir = bpeRichCorpus(spark, outDir)
        RoutingMetrics.drain()
        val (mt, _) = graft.ops.Corpus.bpeTrainUncached(spark, bdir,
          merges = 512)
        val n = mt.count()
        RoutingMetrics.drain().get("bpe_spark_rounds").foreach(r =>
          println(s"probe   corpus_bpe512 spark_rounds=$r merges=$n"))
        n
      }),
      // the OVER-BUDGET fallback on the same corpus: distributed rounds
      // shipping provably-sequential commuting batches — round-trips
      // must come out well under one per merge
      "corpus_bpe_dist"    -> (() => {
        val bdir = bpeRichCorpus(spark, outDir)
        RoutingMetrics.drain()
        val (mt, _) = graft.ops.Corpus.bpeTrainUncached(spark, bdir,
          merges = 96, localTypeBudget = 0L)
        val n = mt.count()
        RoutingMetrics.drain().get("bpe_spark_rounds").foreach(r =>
          println(s"probe   corpus_bpe_dist spark_rounds=$r merges=$n"))
        n
      }),
      // unigram-LM trainer at a production-shaped vocabulary (the BPE
      // arms' derived vocabulary-rich corpus; the replica corpus's ~90
      // types would make an 8k vocab vacuous): seed + 2 hard-EM rounds.
      // Job count stays 2 + emIters regardless of vocab size — cost
      // should track the corpus token mass, not the vocab
      "corpus_unigram8k"   -> (() => {
        val bdir = bpeRichCorpus(spark, outDir)
        graft.ops.Corpus.unigramTrainUncached(spark,
          graft.Tables.parquet(spark, s"$bdir/documents.parquet"),
          vocabSize = 8192, seedSize = 20000).size.toLong
      }),
      // unigram-LM with a LONG seed inventory (VERDICT r13 #8): maxLen
      // 10 / seed 50k / vocab 32k — the production SentencePiece shape
      // the ≤4-char default can't witness (it caps the survivable vocab
      // at the short-substring inventory). Per-round unigram_em* phases
      // are the EM cost curve next to BPE's 512-merge row; unigram_seed
      // is the one-time inventory term (distributed top-k — the seed
      // stage must not collect the full substring inventory).
      "corpus_unigram_longseed" -> (() => {
        val bdir = bpeRichCorpus(spark, outDir)
        graft.ops.Corpus.unigramTrainUncached(spark,
          graft.Tables.parquet(spark, s"$bdir/documents.parquet"),
          vocabSize = 32768, seedMaxLen = 10, seedSize = 50000,
          emIters = 4).size.toLong
      }),
      // forced pathological block: EVERY probe document lands in one
      // (lang, source, len_bucket) block — the shape that would hang the
      // unguarded O(block²) self-join; bounded time here IS the guard's
      // evidence (oversized blocks route to the minhash escape path)
      "dedup_jaccard_hotblock" -> (() =>
        graft.ops.Dedup.ngramJaccardHotBlock(spark, outDir).count()),
      // streaming funnel over 16 id-local epochs: per-epoch fwepochNNN
      // phases must stay flat — each epoch pays the stateless flag
      // kernels on the batch plus two anti-joins against the slim
      // (digest) winner logs; the running report is a fold of the flag
      // log, never a corpus re-scan
      "pipeline_fineweb_stream16" -> (() =>
        graft.ops.TextAnalysis.finewebStream(spark, outDir,
          epochs = 16).count()),
      // the lateness-wrapped funnel (r16): vs the row above, the extra
      // per-epoch cost must be the watermark split + quarantine write
      // (O(batch)), never a state re-scan — fwepoch phases stay flat
      "pipeline_fineweb_stream_late16" -> (() =>
        graft.ops.TextAnalysis.finewebStreamLate(spark, outDir,
          epochs = 16).count()),
      // streaming HLL (r16): per-epoch cost is the batch's sketch agg;
      // state is |groups| sketch binaries per epoch, fold = HLL union —
      // a sketch-sized op at any corpus size
      "hll_stream16" -> (() =>
        graft.ops.Relational2.q62HllBoundStream(spark, outDir,
          epochs = 16).count()),
      // frozen-model streaming DSIR over 16 epochs: scoring is a pure
      // per-doc broadcast join, so dsirepochNNN phases must be flat and
      // the one-time model-train term shows up as the gap between total
      // and Σ epochs
      "text_dsir_stream16" -> (() =>
        graft.ops.TextAnalysis.dsirStream(spark, outDir,
          epochs = 16).count()),
      // streaming token-budget admission over 16 epochs: per-epoch work
      // is a batch-sized prefix sum + an O(|sources|) broadcast; state
      // is one number per source — budepochNNN must be flat
      "corpus_budget_stream16" -> (() =>
        graft.ops.Corpus.budgetSelectStream(spark, outDir,
          epochs = 16).count()),
      // WordPiece at production merge counts through the driver path —
      // the O(1)-Spark-actions claim at a 512-rule vocabulary
      "corpus_wordpiece512" -> (() =>
        graft.ops.Corpus.wordpieceTrainUncached(spark, outDir,
          merges = 512)._1.count()),
      // SemDeDup at probe scale: k sized so clusters stay ~1.5k vectors
      // (the paper's own lever against the O(cluster²) pair term);
      // exact replicas land in one cluster by identity, so the dropped
      // count is a correctness witness, not just a timing. Prints the
      // operator's recorded cluster-size skew (max vs mean) — the
      // number that predicts the pair surface (VERDICT r13 #4).
      "dedup_semantic" -> (() => {
        val (edir, n) = semEmbCorpus()
        RoutingMetrics.drain()
        val k = math.max(16, (n / 1500).toInt)
        val r = graft.ops.Dedup.semanticDedup(spark,
          graft.Tables.embeddings(spark, edir), k = k, iterations = 2,
          eps = 0.95).count()
        val m = RoutingMetrics.drain()
        val nc = math.max(1L, m.getOrElse("sem_clusters", 1L))
        println(s"probe   dedup_semantic k=$k clusters=$nc " +
          s"cluster_max=${m.getOrElse("sem_cluster_max", -1L)} " +
          s"cluster_mean=${n / nc}")
        r
      }),
      // frozen-quantizer INCREMENTAL SemDeDup: history = the first 95%
      // of ids (whole identity clusters under base-major replication),
      // delta = the id tail. One-time history artifacts surface as
      // semdedup_*.build phases; the REMAINDER is the recurring ingest
      // term a production refresh pays (centroids frozen — the paper's
      // deployment shape; re-run against the cached artifacts to see
      // the pure recurring number).
      "dedup_incr_semantic" -> (() => {
        val (edir, n) = semEmbCorpus()
        val k = math.max(16, (n / 1500).toInt)
        graft.ops.Dedup.semanticDedupIncremental(spark, edir, k = k,
          iterations = 2, eps = 0.95, splitId = n - n / 20).count()
      }),
      // ANN tier shoot-out on the replicated embedding corpus (VERDICT
      // r16 #2's probe arm): same queries, three search paths. First
      // run pays the build-once artifacts (hnsw edge list, ivf
      // quantizer — ArtifactCache'd beside the corpus); re-run against
      // the cache for the recurring search-only term. The graph tier's
      // claim is that its search cost is n-INDEPENDENT (entry layer +
      // ef·M·hops scored nodes) while IVF/LSH scan a candidate
      // FRACTION that grows with n.
      "sim_hnsw" -> (() => {
        val (edir, _) = semEmbCorpus()
        graft.ops.Similarity.hnswTopK(spark, edir).count()
      }),
      "sim_ivf" -> (() => {
        val (edir, _) = semEmbCorpus()
        graft.ops.Similarity.ivfTopK(spark, edir).count()
      }),
      "sim_lsh" -> (() => {
        val (edir, _) = semEmbCorpus()
        graft.ops.Similarity.lshTopK(spark, edir).count()
      }),
      // filtered search, both planner regimes on the replicated corpus:
      // the pre arm scans only the ~10% label slice (predicate pushed to
      // the scan); the post arm probes the trained IVF index and
      // semi-joins the 50% id set — the recurring terms of each branch
      "sim_filtered_pre" -> (() => {
        val (edir, _) = semEmbCorpus()
        graft.ops.Similarity.filteredTopK(spark, edir,
          col("label") === graft.ops.Similarity.FilteredLabel).count()
      }),
      "sim_filtered_post" -> (() => {
        val (edir, _) = semEmbCorpus()
        graft.ops.Similarity.filteredTopK(spark, edir,
          col("label") < 5).count()
      }),
      // the full assembly chain (sample → temper → replicate → shuffle →
      // shard) at a budget that scales with the corpus, so the instance
      // stream the rank shuffles grows with the data
      "pipeline_dataloader" -> (() =>
        graft.ops.Corpus.dataloaderPipeline(spark, outDir,
          totalBudget = 20000L * mult).count()),
      // 16 epochs instead of the gate's 4: the per-epoch phases expose the
      // cost CURVE as state accumulates — the full-state-rewrite trade's
      // growth term, and where a partitioned state table becomes mandatory
      "q87_stream_upsert"  -> (() => graft.ops.Relational2.q87StreamUpsert(
        spark, outDir, chunks = 16).count()),
      // 64 small batches: |batch| shrinks toward |state|, so the epoch
      // curve exposes the full-state-rewrite growth term — the measured
      // approach to the point where a partitioned state table is mandatory
      "q87_stream_upsert64" -> (() => graft.ops.Relational2.q87StreamUpsert(
        spark, outDir, chunks = 64).count()),
      // merge-on-read form of the same 64-epoch loop: per-epoch writes
      // are delta-only, so the q87 write-amplification term (≈32× state
      // rewritten cumulatively) collapses to deltas + 64/compactEvery
      // compaction folds; epoch phases should sit at the per-batch
      // aggregation floor regardless of state size
      "q95_mor_upsert64" -> (() => graft.ops.Relational2.q95MorUpsert(
        spark, outDir, chunks = 64, compactEvery = 8).count()),
      // Sparse KEY-LOCAL traffic — the regime the partitioned state table
      // (q96) exists for: batch 0 loads the full corpus, then 12 batches
      // each confined to one of four narrow user-id bands (~1/64 of the
      // key span — "one tenant's id block"). Contrast the compactNNN
      // phases: q95's global schedule folds the FULL base each time,
      // q96's fan-in trigger folds only the band's partitions — the
      // amortized term prices in touched-partition state. Steady epochs
      // are O(batch) in both (the deltas are identical).
      "q95_sparse_upsert" -> (() => sparseArm(spark, outDir, wide = false, q95 = true)),
      "q96_sparse_upsert" -> (() => sparseArm(spark, outDir, wide = false, q95 = false)),
      // the state ≫ batch regime: 10M keys, each sparse batch ~1/64 of them
      "q95_sparse_upsert_wide" -> (() => sparseArm(spark, outDir, wide = true, q95 = true)),
      "q96_sparse_upsert_wide" -> (() => sparseArm(spark, outDir, wide = true, q95 = false)),
    )
    val results = pagedResults ++ idlocalResults ++ dominantResults ++
      manysrcResults ++
      (battery ++ registered.map { case (n, fn) => n -> (() => fn(spark, outDir).count()) })
        .filter(p => want(p._1)).map { case (n, f) => time(n)(f()) }
    // peak heap across all pools: the "no cliff" claim needs a memory
    // number next to the wall times (collected AFTER the probes so every
    // pool's high-water mark is final)
    val peakHeapMb = scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans).asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024 * 1024)
    val json = results.map { case (n, t, r) => s""""$n":{"sec":$t,"rows":$r}""" }
      .mkString(",")
    println(s"""probe-summary {"mult":$mult,"docs":${nDocs * mult},"peak_heap_mb":$peakHeapMb,$json}""")
    spark.stop()
  }
}

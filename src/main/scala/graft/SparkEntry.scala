package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.{Analytics, Corpus, Dedup, EtlPipeline, Graph, KMeans, Layout, Multimodal, Relational, Relational2, Scale, Similarity, Temporal, TextAnalysis, Typed, UrlCuration}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator-inventory entries (SURVEY.md §2 + mandated
  * extensions) to DataFrame plans over an sfDir of fixture parquet;
  * `oracleSql` holds the DuckDB-equivalent ANSI SQL for each hash-checkable
  * query (non-SQL-expressible ops are present in `queries` only → the
  * driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mirrors the reference's end-to-end combine step (union → dedup →
    * conditional transform → aggregate; `flows/etl.py:289-311`). */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Relational2.queries ++ Temporal.queries ++ TextAnalysis.queries ++ Dedup.queries ++
      Similarity.queries ++ Multimodal.queries ++ EtlPipeline.queries ++ KMeans.queries ++ Corpus.queries ++
      Graph.queries ++ Analytics.queries ++ Layout.queries ++ Scale.queries ++ Typed.queries ++ UrlCuration.queries

  /** The registered queries `names` picks, in the given order (blank
    * entries ignored). An unknown name fails with every unknown listed —
    * one resolver for Verify's GRAFT_ONLY and the probe tools, so a typo
    * can never silently select nothing. */
  def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val picked = names.map(_.trim).filter(_.nonEmpty)
    require(picked.nonEmpty, "no query names given")
    val all = queries
    val unknown = picked.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    picked.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Relational2.oracles ++ Temporal.oracles ++ TextAnalysis.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ Multimodal.oracles ++ EtlPipeline.oracles ++ KMeans.oracles ++ Corpus.oracles ++
      Graph.oracles ++ Analytics.oracles ++ Layout.oracles ++ Scale.oracles ++ Typed.oracles ++ UrlCuration.oracles

  /** Machine-readable pairing for every rows-only (`no_oracle`) entry:
    * fixture-regime query → its DETERMINISTIC-REGIME twin that runs the
    * SAME production code path through a full DuckDB hash gate (SURVEY
    * §5.5 — e.g. `dedup_minhash` on the isotropic fixture corpus, where
    * near-dup output is data-luck, pairs with `dedup_minhash_clustered`
    * on the planted corpus, where it is exact). Invariants enforced by
    * `SparkEntrySpec` so an unpaired rows-only entry FAILS the suite:
    * every `queries` key without `oracleSql` appears here, every twin
    * exists in `queries` AND has `oracleSql`, and no map entry is stale
    * (its key must actually lack an oracle). `Verify` dumps this as
    * `rows_only_twins.json` beside the oracle dump. */
  def rowsOnlyTwins: Map[String, String] = Map(
    "corpus_tokenize_unigram" -> "corpus_tokenize_unigram_clustered",
    "corpus_unigram"          -> "corpus_unigram_clustered",
    "dedup_embedding_lsh"     -> "dedup_embedding_lsh_clustered",
    "dedup_groups"            -> "dedup_groups_clustered",
    "dedup_incr_minhash"      -> "dedup_incr_minhash_clustered",
    "dedup_minhash"           -> "dedup_minhash_clustered",
    "dedup_semantic"          -> "dedup_semantic_clustered",
    "dedup_simhash"           -> "dedup_simhash_clustered",
    "dedup_stream_minhash"    -> "dedup_stream_minhash_clustered",
    "kmeans_clusters"         -> "kmeans_clustered_gate",
    "q37_approx"              -> "q37_bound",
    "q62_hll_sketch"          -> "q62_hll_bound",
    "q79_cms_topk"            -> "q79_cms_heavy_clustered",
    "q88_approx_quantile"     -> "q88_quantile_bound",
    "sim_recall_metrics"      -> "sim_recall_clustered",
    "sim_topk_hnsw"           -> "sim_topk_hnsw_clustered",
    "sim_topk_ivf"            -> "sim_topk_ivf_clustered",
    "sim_topk_lsh"            -> "sim_topk_lsh_clustered",
    "sim_topk_pq"             -> "sim_topk_pq_clustered")
}

package graft

import org.apache.spark.sql.CachedPlans

import graft.operators.Hints

/** No leaf outlives eviction: every declared query that reads or
  * publishes a shared leaf is constructed and counted, then
  * Hints.evictAllMemos must leave the CacheManager holding exactly the
  * plans it held before. A `.persist(` in an operator that bypasses the
  * leaf registry stays cached after eviction and fails this spec. */
class LeafEvictionSpec extends SparkSpec {

  /** Queries that read or publish a leaf (Hints.leaf / rebuildLeaf). */
  private val leafQueries = Seq(
    // token, n-gram, langid-score and LM vocabulary leaves
    "q_text_bm25", "q_text_budget", "q_text_clf", "q_text_dupspans",
    "q_text_entropy_native", "q_text_hashtrick", "q_text_invindex",
    "q_text_langid", "q_text_lid_eval", "q_text_lm_ppl", "q_text_ngram_dup",
    "q_text_novelty", "q_text_ppl_bucket", "q_text_rake", "q_text_rarity",
    "q_text_salient", "q_text_spancut", "q_text_surprise", "q_text_ttr",
    "q_text_vocab_prune", "q_text_zipf",
    // dedup labels, signature and audit-frame leaves
    "q_dedup_clusters", "q_dedup_contain_lsh", "q_dedup_est_err",
    "q_dedup_hamming", "q_dedup_incr", "q_dedup_jaccard_lsh",
    "q_dedup_lsh_sweep", "q_dedup_neardup", "q_dedup_repr", "q_dedup_split",
    // co-purchase pairs and PCA loadings
    "q_basket_lift", "q_graph_cc", "q_graph_kcore",
    "q_emb_pca_power", "q_emb_project")

  test("every leaf-using query's cached plans are dropped by evictAllMemos") {
    assert(leafQueries.forall(SparkEntry.queries.contains),
      leafQueries.filterNot(SparkEntry.queries.contains).mkString(", "))
    Hints.evictAllMemos()
    val before = CachedPlans.count(spark)
    leafQueries.foreach(n => SparkEntry.queries(n)(spark, sf0001).count())
    val during = CachedPlans.count(spark)
    assert(during > before, "no leaf was persisted: the check would be vacuous")
    Hints.evictAllMemos()
    assert(CachedPlans.count(spark) === before,
      s"cached plans before $before, with leaves $during, after eviction " +
        CachedPlans.count(spark))
  }
}

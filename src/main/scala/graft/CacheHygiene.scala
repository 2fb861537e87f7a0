package graft

import org.apache.spark.sql.SparkSession

/** Between-query storage-residency gate (VERDICT r16 #2).
  *
  * `LocalFinish.release` (and every operator's own unpersist
  * discipline) is correct-by-convention: a call site that forgets to
  * drop its gate checkpoint leaks storage memory silently until
  * ContextCleaner's next GC sweep — the r10 warm-cache artifact class.
  * This object turns the convention into a mechanical check: after a
  * harness (Verify / Bench) materializes a query, [[sweep]] reports
  * every still-resident RDD and unpersists it, so
  *   (a) an unexpected leak is attributed to the exact query that
  *       created it, and
  *   (b) residue can never accumulate across a 352-query run and
  *       distort later measurements.
  *
  * Residue is EXPECTED from queries whose returned plan references a
  * frame the operator cached/checkpointed for its own multi-leg
  * structure (the cache is live until the harness materializes the
  * result — the operator cannot release it before returning). Those
  * are enumerated per-query by the r17 probe (PLANS.md "r17
  * cache-hygiene probe") in [[expectedResidue]]; anything outside the
  * allowlist is flagged as a LEAK.
  */
object CacheHygiene {

  /** Queries documented to leave blocks resident at materialization
    * time, measured by the r17 orphan probe (PLANS.md "r17
    * cache-hygiene probe"). Two classes:
    *
    *  1. REFERENCED residue — the returned lazy plan reads a frame
    *     the operator cached/checkpointed for its own multi-leg
    *     structure, so release-before-return is impossible by
    *     construction (the harness's post-materialization sweep is
    *     the only correct drop point). The probe verified every
    *     resident block of these queries is reachable from the
    *     executed plan.
    *  2. Documented-unreleasable orphans — (a) pair-generation verify
    *     caches (the shingle / signature index) consumed into a
    *     cluster operator's gate checkpoint: the consumer cannot
    *     uncache a frame the generator may share with other plans in
    *     the same session; (b) all-lazy checkpoint chains with no
    *     materializing action before return (maxMatchSegment's
    *     doubling loop, isotonicCalibration's calib chain), where no
    *     in-operator release point exists.
    *
    * Hybrid graph/dedup operators appear even when their small-scale
    * driver finish leaves nothing: their OVER-CAP distributed path
    * returns the final fixpoint checkpoint (class 1), which binds at
    * sf1+ (VERDICT r16 #1).
    */
  val expectedResidue: Set[String] = Set(
    // class 1 — referenced residue, probe-verified at sf0.001
    "q_acf", "q_assortativity", "q_bpe_fertility", "q_bpe_merges",
    "q_bpe_segment", "q_ccf", "q_clustering_coeff", "q_conductance",
    "q_cox_hr", "q_curation_funnel", "q_dedup_agreement",
    "q_dedup_containment", "q_dedup_jaccard", "q_dedup_minhash",
    "q_dedup_prefix", "q_dedup_thresholds", "q_dedup_winnow_verified",
    "q_degree_gini", "q_doremi_mix", "q_dup_rate_by_source",
    "q_eb_shrinkage", "q_embed_energy", "q_granger",
    "q_granger_by_nation", "q_heavy_hitters", "q_heavy_hitters_by_lang",
    "q_hub_share", "q_kmv_diff", "q_kmv_intersect", "q_knn_ivf_learned",
    "q_knn_ivf_pq", "q_knn_ivf_pq_residual", "q_knn_ivf_sq8",
    "q_knn_pq", "q_label_noise", "q_layout_compare", "q_link_predict",
    "q_ljung_box", "q_media_dup_rate", "q_media_hash_agreement",
    "q_media_neardup", "q_modularity", "q_msprt", "q_mutual_info",
    "q_nb_auc", "q_nb_calibration", "q_nb_eval", "q_novelty",
    "q_pettitt",
    "q_rm3_rescore", "q_selfjoin_size", "q_sign_flip", "q_silhouette",
    // r17 qterms-panel checkpoint (bm25Scores / qlDirichletTopK):
    // the returned plan's broadcast builds read the checkpointed
    // panel, so it is resident until the harness materializes.
    "q_bm25", "q_ql_dirichlet", "q_query_expansion",
    "q_sinkhorn", "q_sorted_neighborhood", "q_source_kl",
    "q_source_overlap", "q_textrank", "q_triangles",
    "q_unigram_fertility", "q_unigram_prune", "q_unigram_segment",
    "q_unigram_vocab",
    // class 2 — documented-unreleasable orphans (pair-generation
    // verify caches / all-lazy chains), swept by the harness
    "q_cluster_rep", "q_cluster_sizes", "q_dedup_cc_star",
    "q_dedup_clusters", "q_dedup_pipeline", "q_dedup_planted_eval",
    "q_split_leakage", "q_maxmatch_segment", "q_isotonic",
    "q_media_neardup_clusters",
    // class 1, distributed path only (hybrid gates over the cap —
    // clean at probe scale, final-checkpoint residue at sf1+)
    "q_bfs_hops", "q_diameter", "q_graph_profile", "q_hits",
    "q_kcore", "q_ktruss", "q_label_prop", "q_mst", "q_pagerank",
    "q_pagerank_weighted", "q_ppr", "q_wl_colors", "q_wl_classes",
    "q_dedup_incremental", "q_hybrid_rrf", "q_ivf_incremental",
    "q_mutual_knn", "q_edge_cut")

  /** Clear the SQL cache, unpersist every resident RDD and return one
    * description line per block that was resident — empty means the
    * query left the session clean. Descriptions carry the RDD id +
    * name (the cached frame's first line) for leak attribution.
    */
  def sweep(spark: SparkSession): Seq[String] = {
    val resident = spark.sparkContext.getPersistentRDDs.toSeq
    // Cached Dataset blocks live in the SQL cache; clear it FIRST so
    // its InMemoryRelation entries can't re-materialize, then drop the
    // raw RDD blocks (localCheckpoints register here, not in the SQL
    // cache). The SQL cache is cleared even when nothing is resident:
    // a cache() whose plan never ran registers an entry but no blocks,
    // and would otherwise be reused by the next query.
    spark.sharedState.cacheManager.clearCache()
    resident.foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
    resident.map { case (id, rdd) =>
      val nm = Option(rdd.name).getOrElse("").linesIterator
        .take(1).mkString.take(120)
      s"rdd=$id parts=${rdd.getNumPartitions} $nm"
    }
  }

  /** Harness hook: sweep after `name`, report a LEAK line for any
    * residue outside [[expectedResidue]]. Returns the number of
    * resident RDDs (expected or not) for the harness's summary.
    */
  def check(spark: SparkSession, name: String): Int = {
    val left = sweep(spark)
    if (left.nonEmpty && !expectedResidue(name))
      System.err.println(
        s"[cache-hygiene] LEAK $name: ${left.size} resident — " +
          left.mkString("; "))
    left.size
  }
}

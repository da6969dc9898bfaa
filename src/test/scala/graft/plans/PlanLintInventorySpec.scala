package graft.plans

import graft.SparkSpec

/** CI deployment of the advisory plan linter across the ENTIRE query
  * inventory: every `SparkEntry.queries` builder is compiled at sf0.001
  * and its static physical plan swept for the four scale-killer rules
  * (cartesian product, non-equi nested-loop fallback, missed-broadcast
  * shuffle join, unpartitioned window). The gate is a GOLDEN BASELINE:
  * the per-query finding counts below were adjudicated by
  * anti-pattern audits (every flagged node is one of the repo's
  * documented bounded patterns — see the adjudication notes), and the
  * spec fails when any query exceeds its baseline: a new query (or an
  * edit to an old one) cannot introduce a cartesian, a non-equi
  * fallback, or an unpartitioned window without a reviewed baseline
  * update (`Test/runMain graft.plans.PlanLintBaselineGen`).
  *
  * Why a baseline and not an empty-findings assertion: the linter is
  * deliberately blunt (it reads plan SHAPE, not boundedness), and the
  * inventory's flagged nodes are all intentional —
  *
  *  - CARTESIAN_PRODUCT here is `crossJoin(broadcast(x))` where x is a
  *    ONE-ROW aggregate (corpus totals / min-max / thresholds riding
  *    along to avoid a driver collect) or a ≤dim-scale frame; output is
  *    |L|×1, not |L|×|R|.
  *  - NON_EQUI_JOIN is the broadcast-bounded candidate pattern: a
  *    bounded side (probe queries, rank thresholds, df bands) against
  *    the corpus with a non-equi predicate — the nested loop runs
  *    map-side over a side that is bounded by construction.
  *  - SMALL_SIDE_NOT_BROADCAST fires on sf0.001 STATS (both sides are
  *    fact-scale at real SF, so shuffling both is the correct plan; the
  *    lint can only see the toy-scale estimate).
  *  - GLOBAL_WINDOW runs over frames bounded BEFORE the window:
  *    calendar-day series, ≤nb bucket offset tables, post-LIMIT/top-k
  *    frames, or oracle-mandated whole-result ranks over dim-scale
  *    rows (q_window_ntile / q_cte_chain replicate reference test
  *    semantics over customer-dim frames).
  */
class PlanLintInventorySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Golden per-query finding counts (rule → count). Regenerate with
    * PlanLintBaselineGen ONLY for adjudicated plan changes.
    */
  private val baseline: Map[String, Map[String, Int]] = Map(
    "ann_cosine_topk" -> Map("NON_EQUI_JOIN" -> 1),
    // NSW beam search: the ≤4-row entry-point frame and per-hop
    // queries×beam frontier broadcast against the corpus scan with the
    // vec_id =!= q_id / visited-pool guards — the broadcast-bounded
    // candidate class (per-hop rows ≤ q×beam×degree, spec-pinned)
    "ann_graph_topk" -> Map("CARTESIAN_PRODUCT" -> 2, "NON_EQUI_JOIN" -> 2),
    // persist twin: the built-vs-reloaded parity check crossJoins the
    // ONE-ROW diff count with the one-row shape aggregate (constant
    // frames; the fused searches run eagerly before the lint sees the
    // final plan, so only the parity tail is flagged)
    "ann_graph_persist" -> Map("CARTESIAN_PRODUCT" -> 1),
    // recall sweep: 5 sweep points × (one-row hits + one-row shape +
    // one-row n_exact) aggregate broadcasts riding along; the window is
    // the lag over the 5-row curve itself (bounded by construction)
    "ann_ivf_recall_curve" -> Map("CARTESIAN_PRODUCT" -> 16, "GLOBAL_WINDOW" -> 1),
    "ann_ivf_topk" -> Map("CARTESIAN_PRODUCT" -> 4, "NON_EQUI_JOIN" -> 2),
    // composed IVF-PQ: one-row seed/training/recall-gate aggregate
    // broadcasts + the vec_id =!= q_id guards inside broadcast-bounded
    // candidate joins — the same adjudicated classes as ann_ivf/ann_pq
    "ann_ivfpq_topk" -> Map("CARTESIAN_PRODUCT" -> 4, "NON_EQUI_JOIN" -> 2),
    "ann_lsh_topk" -> Map("CARTESIAN_PRODUCT" -> 1, "NON_EQUI_JOIN" -> 2),
    "ann_pq_topk" -> Map("CARTESIAN_PRODUCT" -> 2, "NON_EQUI_JOIN" -> 4),
    "curate_cms_counts" -> Map("CARTESIAN_PRODUCT" -> 1),
    // one-row corpus-total (T_g) and |domains|-row softmax-denominator
    // aggregates broadcast into the |domains|-row weight table
    "curate_doremi" -> Map("CARTESIAN_PRODUCT" -> 3),
    // the one-row bigram-type-count aggregate riding along (25fh class)
    "text_kn_bigram" -> Map("CARTESIAN_PRODUCT" -> 1),
    // order-4 modified KN: the four per-level discount/count-of-counts
    // frames (gd4/gd3/gd2/g1) are ONE-ROW aggregate broadcasts riding
    // along — the same adjudicated constant-frame class as
    // text_kn_modified's 3
    "text_kn_quadgram" -> Map("CARTESIAN_PRODUCT" -> 4),
    // same class one level up: the one-row mid-level type total B
    "text_kn_trigram" -> Map("CARTESIAN_PRODUCT" -> 1),
    // modified KN: THREE one-row discount-set broadcasts (per-level
    // count-of-counts aggregates) instead of the single B broadcast —
    // same adjudicated constant-frame class as text_kn_bigram/trigram
    "text_kn_modified" -> Map("CARTESIAN_PRODUCT" -> 3),
    // the one-row (ns, nt) corpus-total aggregate broadcast into the
    // 256-row bucket ratio table — the same adjudicated one-row class
    "curate_dsir_weights" -> Map("CARTESIAN_PRODUCT" -> 1),
    "curate_global_index" -> Map("CARTESIAN_PRODUCT" -> 2, "GLOBAL_WINDOW" -> 1),
    "curate_weighted_sample" -> Map("GLOBAL_WINDOW" -> 1),
    "curate_winsorize" -> Map("CARTESIAN_PRODUCT" -> 4, "GLOBAL_WINDOW" -> 1, "NON_EQUI_JOIN" -> 1),
    // Rep-graph CC: the member→label and cluster-size joins are
    // corpus-/cluster-scale at real SF (toy-stats artifacts here), so
    // shuffling both sides is the correct plan — same adjudicated
    // class as the rule doc above; count 1→3 with the collapse.
    "dedup_clusters" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 3),
    "dedup_embedding" -> Map("NON_EQUI_JOIN" -> 1),
    // one-row query-vector broadcasts; the rank windows run AFTER
    // orderBy().limit(10) — constant 10-row frames (the rrf class)
    "emb_binary_quant" -> Map("CARTESIAN_PRODUCT" -> 1, "GLOBAL_WINDOW" -> 1),
    "emb_mrl_recall" -> Map("CARTESIAN_PRODUCT" -> 2, "GLOBAL_WINDOW" -> 1),
    "emb_scalar_quant" -> Map("CARTESIAN_PRODUCT" -> 1),
    "ev_anomaly_mad" -> Map("CARTESIAN_PRODUCT" -> 3),
    // SubShard conversions (25ko) lint CLEAN at gate scale: the
    // adaptive dispatch reads the max per-user count as one bounded
    // driver-side long and emits the ORIGINAL single-window plan below
    // the hot threshold — the sub-sharded plan (whose summary joins are
    // the q_geo_cell_join bounded-one-row class) only exists on hot
    // tiers, which the lint's sf0.001 fixture never is.
    //
    // Operator-only twin: same calendar-bounded global window +
    // one-row total broadcast as the gated ev_rolling_distinct.
    "ev_rolling_distinct_op" -> Map("CARTESIAN_PRODUCT" -> 1, "GLOBAL_WINDOW" -> 1),
    // Adaptive semdedup (25kp): the one-row distinct-vector-count
    // broadcast (planesFor input) onto the plane-sum subtrees — the
    // same bounded-one-row class as q_geo_cell_join's nSupp.
    "curate_semdedup" -> Map("NON_EQUI_JOIN" -> 4),
    "ev_cusum_changepoint" -> Map("CARTESIAN_PRODUCT" -> 1, "GLOBAL_WINDOW" -> 1),
    "ev_daily_anomaly" -> Map("GLOBAL_WINDOW" -> 1),
    "ev_ewma" -> Map("CARTESIAN_PRODUCT" -> 1, "GLOBAL_WINDOW" -> 1, "NON_EQUI_JOIN" -> 2),
    "ev_funnel_negation" -> Map("CARTESIAN_PRODUCT" -> 2),
    "ev_funnel_windowed" -> Map("CARTESIAN_PRODUCT" -> 2),
    "ev_markov_stationary" -> Map("CARTESIAN_PRODUCT" -> 1),
    "ev_max_drawdown" -> Map("GLOBAL_WINDOW" -> 2),
    "ev_rolling_distinct" -> Map("GLOBAL_WINDOW" -> 1, "NON_EQUI_JOIN" -> 1),
    "ev_seasonality" -> Map("CARTESIAN_PRODUCT" -> 1),
    // KM walk: one-row max-date/total-count broadcasts; windows over
    // DISTINCT durations (calendar-span-bounded, the ev_daily class).
    "ev_survival_km" -> Map("CARTESIAN_PRODUCT" -> 3, "GLOBAL_WINDOW" -> 3),
    // One-row beta/min-max/offset broadcasts (the logreg family re-plans
    // the fit subtree per reference); offset window over ≤nb buckets.
    "ml_auc" -> Map("CARTESIAN_PRODUCT" -> 10, "GLOBAL_WINDOW" -> 1),
    "ml_calibration" -> Map("CARTESIAN_PRODUCT" -> 5),
    "ml_hard_negatives" -> Map("NON_EQUI_JOIN" -> 1),
    "ml_knn_label" -> Map("CARTESIAN_PRODUCT" -> 1),
    "ml_logreg_newton" -> Map("CARTESIAN_PRODUCT" -> 1),
    // k-row (k=4) centroid-frame broadcasts, one per Lloyd iteration
    "ml_kmeans_lloyd" -> Map("CARTESIAN_PRODUCT" -> 2),
    // the logreg-family re-planned fit subtree (ml_auc's class: one-row
    // beta/min-max/totals broadcasts) + the ≤nb bucket-offset window
    "ml_pr_auc" -> Map("CARTESIAN_PRODUCT" -> 10, "GLOBAL_WINDOW" -> 1),
    // 50-row query-set broadcast into the corpus scoring pass
    "ml_ranking_metrics" -> Map("CARTESIAN_PRODUCT" -> 1),
    // ml_text_classifier: no entry — the per-iteration weight
    // frames are localCheckpoint'd (257-row model), so the one-row
    // nDocs crossJoins live in already-executed checkpoint segments and
    // the final visible plan is a single broadcast-join margin pass
    "mm_dhash_neardup" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 1),
    "q_ab_test" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_approx_topk" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_assoc_rules" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_benford" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_bfs_hops" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 1),
    "q_block_sample_est" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_chi_square" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_concentration" -> Map("CARTESIAN_PRODUCT" -> 5, "GLOBAL_WINDOW" -> 2),
    "q_cross_join" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_cte_chain" -> Map("GLOBAL_WINDOW" -> 1),
    "q_decile_lift" -> Map("CARTESIAN_PRODUCT" -> 1, "GLOBAL_WINDOW" -> 1),
    "q_entity_resolution" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 2),
    "q_expectations" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_full_outer_join" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 2),
    "q_hier_share" -> Map("GLOBAL_WINDOW" -> 1),
    "q_histogram2d" -> Map("CARTESIAN_PRODUCT" -> 3),
    "q_hll_merge" -> Map("CARTESIAN_PRODUCT" -> 2),
    "q_hll_overlap" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_interpolate" -> Map("GLOBAL_WINDOW" -> 3),
    "q_js_divergence" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_kll_merge" -> Map("CARTESIAN_PRODUCT" -> 1),
    // one-row min-max/totals/tie-sum broadcasts + the ≤nb bucket-offset
    // window (the ml_auc prefix composition over distinct values)
    "q_kruskal_wallis" -> Map("CARTESIAN_PRODUCT" -> 5, "GLOBAL_WINDOW" -> 1),
    "q_ks_test" -> Map("CARTESIAN_PRODUCT" -> 3, "GLOBAL_WINDOW" -> 1),
    "q_merge_upsert" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 2),
    "q_mom_growth" -> Map("GLOBAL_WINDOW" -> 1),
    "q_pagerank" -> Map("CARTESIAN_PRODUCT" -> 4),
    // one-row CI-bounds broadcast; the rank window runs over the B=32-row
    // replica-means table (constant, not corpus)
    "q_poisson_bootstrap" -> Map("CARTESIAN_PRODUCT" -> 1, "GLOBAL_WINDOW" -> 1),
    "q_rfm_segments" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_rolling_slope" -> Map("GLOBAL_WINDOW" -> 3),
    "q_skew_diagnose" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_skyline" -> Map("CARTESIAN_PRODUCT" -> 2, "GLOBAL_WINDOW" -> 1),
    "q_subquery_scalar" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_table_diff" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 2),
    "q_tpch_q20" -> Map("SMALL_SIDE_NOT_BROADCAST" -> 1),
    "q_tpch_q22" -> Map("NON_EQUI_JOIN" -> 1),
    "q_triangle_count" -> Map("CARTESIAN_PRODUCT" -> 1),
    "q_window_ntile" -> Map("GLOBAL_WINDOW" -> 1),
    "q_woe_binning" -> Map("CARTESIAN_PRODUCT" -> 3),
    "text_bigram_lm" -> Map("CARTESIAN_PRODUCT" -> 1),
    "text_bm25" -> Map("CARTESIAN_PRODUCT" -> 1),
    // one-row totals/min-max/count broadcasts re-planned per consumer of
    // the lp subtree (the ml_auc class) + the ≤nb bucket-offset window
    "text_ccnet_buckets" -> Map("CARTESIAN_PRODUCT" -> 6, "GLOBAL_WINDOW" -> 1),
    // KN-scored quartile bands: the same adjudicated classes as
    // text_ccnet_buckets — one-row broadcasts (bigram-type total,
    // min/max/count frame) riding crossJoins, and the ≤16-row
    // bucket-offset window ordered globally (bounded by construction)
    "text_perplexity_filter" -> Map("CARTESIAN_PRODUCT" -> 6, "GLOBAL_WINDOW" -> 1),
    // temperature sampling: |domains|-row broadcasts (total,
    // softmax denominator, remainder) + the ≤5-row largest-remainder
    // rank window; per-domain hash ranks ride (lang, nibble) partitions
    "curate_temperature_sample" ->
      Map("CARTESIAN_PRODUCT" -> 7, "GLOBAL_WINDOW" -> 1),
    // rho-loss selection: the one-row T_g total broadcast riding
    // a crossJoin (the curate_doremi class)
    "curate_rho_loss" -> Map("CARTESIAN_PRODUCT" -> 1),
    // Cell-depth scaling: the one-row supplier-count frame
    // broadcast onto both join sides (bounded one-row class)
    "q_geo_cell_join" -> Map("NON_EQUI_JOIN" -> 2),
    "text_inverted_index" -> Map("NON_EQUI_JOIN" -> 1),
    "text_nb_lang" -> Map("CARTESIAN_PRODUCT" -> 2),
    "text_pmi_topk" -> Map("CARTESIAN_PRODUCT" -> 2),
    // one-row stats/query-vector broadcasts; the row_number windows and
    // the fusion full-outer join run AFTER orderBy().limit(R) — every
    // flagged node operates on a constant R=50-row frame, not the corpus
    "text_rrf_fusion" -> Map("CARTESIAN_PRODUCT" -> 2, "GLOBAL_WINDOW" -> 2,
      "SMALL_SIDE_NOT_BROADCAST" -> 2),
    "text_tfidf_topk" -> Map("CARTESIAN_PRODUCT" -> 1),
    "text_unigram_logprob" -> Map("CARTESIAN_PRODUCT" -> 1),
    "text_zipf_fit" -> Map("GLOBAL_WINDOW" -> 1)
  )

  test("no query exceeds its golden plan-lint baseline (new cartesian / " +
    "non-equi fallback / missed broadcast / global window fails CI)") {
    val regressions = Seq.newBuilder[String]
    val improvements = Seq.newBuilder[String]
    // Parallel sweep (graft.TestSweep doc). Each item runs in its own
    // session, so fixed view names (orders, documents, events) that
    // builders register cannot leak between items, and in its own
    // Materialize scope, released after its findings. A cache another
    // item registered concurrently can only SUBSTITUTE a subtree (hiding
    // nodes below it), never add a cartesian/non-equi/window above — so
    // interference can only lower a count, which reports as info; the
    // failure direction (now > was) is unaffected.
    val results = graft.TestSweep.sweepResults(graft.SparkEntry.queries.toSeq.sortBy(_._1)) { case (name, fn) =>
      val counts: Map[String, Int] =
        try {
          val (findings, scope) = graft.Materialize.scope(PlanLints.findings(fn(spark.newSession(), sfDir)))
          scope.release()
          findings.groupBy(_.rule).view.mapValues(_.size).toMap
        } catch {
          case e: Throwable =>
            Map(s"builder threw ${e.getClass.getSimpleName}: ${e.getMessage}" -> -1)
        }
      name -> counts
    }
    results.foreach { case (name, counts) =>
      counts.collect { case (msg, -1) => regressions += s"$name: $msg" }
      val real = counts.filter(_._2 >= 0)
      val base = baseline.getOrElse(name, Map.empty)
      (real.keySet ++ base.keySet).foreach { rule =>
        val now = real.getOrElse(rule, 0); val was = base.getOrElse(rule, 0)
        if (now > was) regressions += s"$name: $rule $was -> $now"
        else if (now < was) improvements += s"$name: $rule $was -> $now"
      }
    }
    val better = improvements.result()
    if (better.nonEmpty)
      info(s"plans improved vs baseline (update it): ${better.mkString("; ")}")
    val worse = regressions.result()
    assert(worse.isEmpty,
      s"plan-lint regressions vs the golden baseline:\n  ${worse.mkString("\n  ")}")
  }
}

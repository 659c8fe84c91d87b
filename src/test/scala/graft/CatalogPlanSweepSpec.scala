package graft

import java.io.ByteArrayOutputStream

/** Catalog-wide physical-plan invariant: NO query plans a cartesian product
  * or nested-loop join except the ones designed that way — q09's
  * reference-verbatim coalesce-key full join (J-10, bounded to
  * channel-month grain by construction) and q22's brute-force ANN (the
  * deliberate exhaustive baseline: tiny broadcast query side × corpus,
  * the plan the indexed variants q29/q33 exist to replace). A new query
  * that accidentally plans a loop join fails here by name. */
class CatalogPlanSweepSpec extends SparkSpec {

  private val designedLoopJoins = Set(
    "q09_join_full_coalesce", // J-10: BNLJ on coalesce keys, reference-verbatim
    "q22_ann_bruteforce",     // exhaustive baseline: broadcast queries × corpus
    "q23_embedding_neardup",  // threshold all-pairs twin of q22 (same contract)
    "q33_ann_ivf",            // centroid assignment: corpus × broadcast(nlist) —
    "q68_semantic_dedup",     //   the IVF build step, bounded by nlist per row
    "q58_tfidf_keywords",     // ln(N) scalar: 1-row corpus-count broadcast
    "q88_bm25_topk",          // (N, avgdl) scalars: same 1-row broadcast
    "q92_cluster_balanced_sample", // IVF cell assignment: corpus × broadcast(nlist)
    "q93_hard_negatives",     // exhaustive baseline (q22 contract) + label inequality
    "q101_ann_int8",          // IVF cell assignment: corpus × broadcast(nlist)
                              //   (the SCORING join is cell-scoped, q33 shape)
    "q94_temperature_mix",    // (N, Σmicro) scalars: two 1-row broadcasts
    "q109_nb_predict",        // (n_docs, |vocab|) scalars + |vocab|×|classes|
                              //   model build: 1-row / #classes-row broadcasts
    "q111_cluster_quality",   // prototype × prototype nearest-other pass:
                              //   #labels² rows by construction, never corpus
    "q112_unigram_drift",     // (tot_a, tot_b) scalars: two 1-row broadcasts
    "q118_psi_drift",         // dense-grid build: distinct groups × distinct
                              //   bins over the persisted counts — bounded
                              //   |groups|·|bins|, never corpus rows
    "q120_psi_lang",          // same bounded grid, categorical bins
    "q121_psi_vs_reference",  // same bounded grid vs the reference histogram
    "q128_pmi_collocations",  // (tot_n, tot_b) scalars: two 1-row broadcasts
    "q130_triangle_census",   // (totals × triangles): two 1-row frames
    "q137_rrf_hybrid",        // (N, avgdl) scalars: q88's 1-row broadcast
    "q138_association_rules", // N baskets: 1-row broadcast into lift
    "q139_rfm_scores",        // percentile boundaries: 1-row broadcast
    "q143_experiment_lift",   // variant-0 baseline: 1-row broadcast
    "q150_dedup_landscape",   // (n_total × n_clustered): two 1-row frames
    "q157_dead_stock",        // corpus-last-ship anchor: 1-row broadcast
    "q160_benford_digits",    // digit-count total: 1-row broadcast
    "q173_ann_ivfpq",         // IVF cell assignment: corpus × broadcast(nlist)
                              //   (codes⋈lut scoring join is equi on
                              //   (cid, sub, code) — cell-scoped, q101 shape)
    "q174_ivf_recall",        // q33 assignment + q22 exhaustive ground truth
                              //   (calibration-sample queries by contract) +
                              //   1-row possible-total broadcast
    "q175_bitext_margin",     // exact calibration twin: cross-side scoring
                              //   pass IS the operator contract (scale path
                              //   swaps in LSH/IVF candidates upstream)
    "q177_domain_reweight",   // (t_toks, z) normalizers: 1-row broadcast
    "q178_rank_agreement",    // (N, avgdl) corpus stats 1-row broadcast +
                              //   depth-grid × joined-top-k cross: both
                              //   sides bounded by maxDepth, never corpus
    "q179_risk_coverage",     // q109's NB model-build scalars (contract
                              //   above); the curve itself is one agg row
    "q180_rater_kappa",       // q109's NB scalars + raterAgreement's
                              //   (n_total, pe_s) 1-row broadcasts into
                              //   the bounded |labels|² cell table
    "q183_vocab_growth",      // (docSums × vocabSums): two 1-row
                              //   conditional-sum frames
    "q184_pareto_frontier",   // (lo, hi) bucket anchor: 1-row broadcast
    "q189_conformal_sets",    // q109's NB scalars + the 1-row n_cal ×
                              //   α-grid explode and the ≤|grid|-row
                              //   threshold table into the eval pass
    "q190_classifier_report", // q109's NB scalars (the report itself runs
                              //   on the bounded |labels|² cell frame)
    "q191_rank_eval",         // (N, avgdl) corpus stats 1-row broadcast
                              //   (the q88 contract, batched per query)
    "q193_fano_burstiness",   // (w_lo, w_hi) span anchor: 1-row broadcast
    "q195_shard_skew",        // w_total: 1-row broadcast into the ≤S-row
                              //   shard frame
    "q196_label_routing",     // q109's NB model-build scalars (vocab ×
                              //   class totals — the q179 contract)
    "q197_key_skew_profile",  // (n_rows, n_keys) + entropy 1-row
                              //   broadcasts into the ≤topK frame
    "q199_source_lang_census", // n_total: 1-row broadcast into the
                              //   bounded |sources|×|langs| cell frame
    "q201_nb_hashed_predict", // (nd, ntot) prior scalars 1-row broadcast +
                              //   dense model grid: range(dim) ×
                              //   |classes|-row class totals — FIXED
                              //   dim·|classes| rows by construction
    "q220_rater_kappa_hashed", // q201's hashed-model scalars/grid (fixed
                              //   dim·|classes| rows) + q180's kappa
                              //   1-row broadcasts into the |labels|²
                              //   cell table
    "q205_conformal_hashed",  // q201's hashed-model scalars/grid (contract
                              //   above) + q189's conformal algebra: 1-row
                              //   n_cal × α-grid and the ≤|grid|-row
                              //   threshold table into the eval pass
    "q216_ann_ivf_bucketed",  // the q33 contract minus the assignment:
                              //   ONLY the query-probe × nlist-centroid
                              //   broadcast remains (PlanAuditSpec pins
                              //   the count at exactly one)
    "q222_bm25_indexed",      // q88's (n_docs, avgdl) contract read back
                              //   from the standing 1-row stats table:
                              //   still a 1-row cross broadcast
                              //   (PlanAuditSpec pins exactly one)
    "q224_rank_eval_indexed") // q191's contract over the same standing
                              //   1-row stats table (shared lexical index)

  test("no undesigned cartesian/nested-loop join anywhere in the catalog") {
    val offenders = QueryCatalog.all.flatMap { spec =>
      val df = spec.run(spark, sfDir)
      val out = new ByteArrayOutputStream()
      Console.withOut(out) { df.explain() }
      graft.core.CacheScope.drain()
      val p = out.toString
      val loopy = p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin")
      if (loopy && !designedLoopJoins.contains(spec.name)) Some(spec.name) else None
    }
    assert(offenders.isEmpty, s"undesigned loop joins in: ${offenders.mkString(", ")}")
  }
}

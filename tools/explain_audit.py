"""Physical-plan audit over the whole query catalog.

For every catalog entry, compile the plan at the given sf dir and
check the properties that matter at 100 TB:

- scans: column pruning (ReadSchema narrower than the table) and
  predicate pushdown (PushedFilters non-empty when the query filters
  base columns);
- joins: small dimension joins should be BroadcastHashJoin, and no
  unhinted CartesianProduct / BroadcastNestedLoopJoin should appear
  (block-grid joins in the GEMM dedup are intentionally nested-loop
  over ~dozens of block rows — allowlisted);
- codegen: at least one WholeStageCodegen span (JVM-side execution);
- windows: flag `Window` operators with empty partition spec (global
  sort funnels) outside the allowlisted vocabulary-ranking queries.

Usage: python tools/explain_audit.py [sf_dir] [name ...]
Exit 1 if any non-allowlisted audit fails.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from westtopologies_spark.queries import catalog  # noqa: E402
from westtopologies_spark.session import get_spark  # noqa: E402

# global-window vocabulary/dictionary ranking: the window input is the
# distinct vocabulary (orders of magnitude smaller than the corpus);
# the char-hash encoding (scale.dedup.char_hash_tid) avoids it entirely.
VOCAB_RANK_OK = {
    "x5_term_index_encode",
    "dd_minhash_lsh",
    "dd_ngram_jaccard",
    "dd_simhash",
    "tx_fingerprint",
    "x4_stem_rule_based",
    "j4_semi_join",
}
# intentional nested-loop/cartesian shapes: block-grid GEMM (dozens of
# block rows), tiny broadcast query sets joined on an inequality, and
# the IVF coarse-quantizer assignment (corpus x broadcast of <=16
# centroid rows — every IVF implementation scores all cells per row).
BLOCK_JOIN_OK = {"dd_embedding_neardup", "ann_bruteforce_topk", "ann_lsh_bucketed",
                 "dd_exact", "ann_ivf_topk", "emb_kmeans",
                 # composes ann_ivf_topk's broadcast-centroid scans
                 # (corpus x <=16 cells, queries x cells) + pq_adc's LUT
                 "ann_ivfadc_topk",
                 # composes kmeans_assignments: the BNLJ is the k-row
                 # broadcast-centroid assignment scan, not a pair grid
                 "dd_semantic_dedup"}
# single-group stateful scan (reference semantics require one ordered
# group; the keyed variant shards it -- see streaming.stateful docs)
SINGLE_GROUP_OK = {"w1_exact_windows", "a4_tercile_boundaries", "a3_role_features",
                   "a3_role_assignment"}
# scalar-broadcast pattern: crossJoin(broadcast(<1-row aggregate>)) —
# nb totals row (ops.geo.nb_accept), global community-user count
# (ops.roles.role_features). A 1-row build side makes BNLJ the right
# physical plan.
SCALAR_BROADCAST_OK = {"a5_nb_accept", "a5_nb_logsum", "a3_role_features",
                       "a3_role_assignment",
                       # corpus-size N (1 row) joined onto tf-idf / PMI / LM scores
                       "tx_tfidf", "tx_pmi_bigrams", "tx_bigram_lm",
                       # mixture scale factor lam (1 row) joined onto quotas
                       "tp_mixture",
                       # old/new snapshot totals (1 row) joined onto PSI bins
                       "dv_psi_drift",
                       # global avg balance (1 row) joined onto customers
                       "sq_idle_rich_customers",
                       # global (total, n) value row (1 row) joined onto
                       # the per-part aggregate (TPC-H Q11 shape)
                       "sq_important_parts",
                       # corpus-end day (1 row) joined onto user spans;
                       # 4-row learned merge tables joined in-plan
                       "ag_survival_lifetable", "tx_bpe_train", "tx_bpe_apply",
                       # seed-count scalar (1 row) seeding the rank vector
                       "gr_personalized_pagerank",
                       # 6-row lag frame broadcast onto the hourly series
                       "ts_acf_lags",
                       # 9-row decile frame broadcast onto the ranked
                       # values (same class as ag_pr_curve's sweep points)
                       "ag_qq_points",
                       # 1-row revenue total joined onto the rank frame
                       "sq_pareto_8020",
                       # 5-type stats broadcast joined on the < inequality
                       # (same bounded pair grid as ag_welch_ttest)
                       "ag_effect_size",
                       # node-count N (1 row) seeding the rank vector
                       "gr_pagerank",
                       # corpus token total (1 row) joined onto LM scores
                       "tx_unigram_lm",
                       # label-count total (1 row) joined onto class counts
                       "tp_class_weights",
                       # corpus token total N (1 row) joined onto chi2 cells
                       "tx_chi2_terms",
                       # train-split totals (T, V — 1 row) joined onto eval terms
                       "tx_heldout_nll",
                       # positive-count total (1 row) joined onto sweep points
                       "ag_pr_curve",
                       # sample-size totals (1 row) joined onto CDF gaps
                       "ag_ks_test",
                       # grand total N (1 row) joined onto contingency cells
                       "ag_chisq_cells",
                       # series totals (1 row) joined onto the hourly scan
                       "ts_cusum_changepoint",
                       # token-budget scale factor lam (1 row) joined onto quotas
                       "tp_token_mixture",
                       # global edge count m (1 row) joined onto community stats
                       "gr_modularity",
                       # corpus size n (1 row) joined onto the 2080 cov cells
                       "emb_covariance",
                       # 5-type stats broadcast joined on the < inequality
                       # (bounded 5x5 pair grid)
                       "ag_welch_ttest",
                       # global mean/std row (1 row) joined onto PAA segments
                       "ts_sax_symbols",
                       # bounded query-set broadcast (<= ANN_N_QUERIES rows)
                       # with a non-equi self-exclusion predicate — the same
                       # class as ann_bruteforce_topk's scan
                       "emb_prefix_recall",
                       # composes the brute-force plan above -> same bounded
                       # query-set broadcast on its exact side
                       "ann_recall_audit",
                       # node-count N (1 row) seeding the term-rank vector
                       # (same pagerank kernel as gr_pagerank)
                       "tx_textrank",
                       # dimension-count n (1 row) + eigenvalue row (1 row)
                       # joined onto the 64-row component frame / projection
                       "emb_pca_power",
                       # composes cosine_topk -> inherits its bounded
                       # query-set broadcast (<= ANN_N_QUERIES rows) with
                       # the non-equi self-exclusion predicate
                       "ann_rrf_fusion",
                       # per-half-round max-normalizer row (1 row) joined
                       # onto the node frame (same class as gr_pagerank's N)
                       "gr_hits",
                       # sqrt-mass + doc totals (1 row) joined onto the
                       # per-source quota frame
                       "tp_temp_mixture",
                       # calendar-bounded daily frame broadcast to the
                       # inequality pair join + scalar stat rows (1 row each)
                       "ts_mann_kendall",
                       # corpus doc-count row (1 row) joined onto term stats
                       "tx_burstiness",
                       # digit-total row (1 row) joined onto the 9 digit bins
                       "ag_benford",
                       # grand-total row (1 row) joined onto the bounded
                       # contingency-cell frame
                       "ag_mutual_info",
                       # composes cosine_topk + ann_lsh_topk -> inherits the
                       # bounded query-set broadcast (<= ANN_N_QUERIES rows)
                       # with the non-equi self-exclusion predicate
                       "ann_ndcg",
                       # bounded query-set broadcast (<= ANN_N_QUERIES rows)
                       # with the non-equi self-exclusion predicate
                       "emb_label_margin",
                       # effective-mass + share totals (1 row) joined onto
                       # the per-source frame
                       "tp_effective_mixture",
                       # corpus-half token totals (1 row) joined onto the
                       # per-term contribution frame
                       "tx_js_divergence",
                       # composes cosine_topk -> inherits the bounded
                       # query-set broadcast with the non-equi
                       # self-exclusion predicate on its exact side
                       "ann_multiprobe_recall",
                       # 7-row threshold frame joined on the >= inequality
                       # to the bounded candidate-pair set
                       "dd_threshold_sweep",
                       # composes the IVF centroid assignment (<=16-row
                       # broadcast scored per row) + cosine_topk's bounded
                       # query broadcast on the exact side
                       "ann_ivf_probe_sweep",
                       # hour-span scalar (1 row) joined onto the
                       # per-type moment frame
                       "ts_fano_factor",
                       # corpus row-count scalar (1 row) joined onto the
                       # per-score rollup for the percent-rank bin (r6
                       # distributed rewrite of the row-level window)
                       "ag_calibration"}


def audit(name: str, plan: str) -> list[str]:
    findings = []
    # codegen stages print as `*(n) Op` in simple mode and as
    # `WholeStageCodegen (n)` in formatted mode — accept either
    if "WholeStageCodegen" not in plan and not re.search(r"\*\(\d+\)", plan):
        findings.append("no WholeStageCodegen span")
    if "CartesianProduct" in plan and name not in BLOCK_JOIN_OK:
        findings.append("unexpected CartesianProduct")
    if (
        "BroadcastNestedLoopJoin" in plan
        and name not in BLOCK_JOIN_OK
        and name not in SCALAR_BROADCAST_OK
    ):
        findings.append("unexpected BroadcastNestedLoopJoin")
    # global window: 'Window [...]' physical node with no 'partitionBy'
    if re.search(r"\bWindow\b(?![A-Za-z])", plan) and "partition" not in plan.lower():
        if name not in VOCAB_RANK_OK and name not in SINGLE_GROUP_OK:
            findings.append("window with empty partition spec")
    return findings


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    # AQE off: the audit inspects the STATIC physical plan (with AQE
    # on, codegen stages only appear after execution re-planning)
    spark = get_spark(
        "explain-audit",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    failures = 0
    for spec in catalog():
        if only and spec.name not in only:
            continue
        df = spec.spark(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_scans = plan.count("FileScan") + plan.count("Scan parquet")
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        findings = audit(spec.name, plan)
        status = "ok " if not findings else "WARN"
        print(
            f"{status} {spec.name}: scans={n_scans} bhj={n_bhj} smj={n_smj} "
            f"pushed={pushed}" + (f"  << {'; '.join(findings)}" if findings else "")
        )
        failures += bool(findings)
    print(f"\n{failures} queries with findings")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

from .queries import QUERIES, flagship
from . import advanced_queries  # noqa: F401  (registers Qkeys)
from . import core_relational  # noqa: F401  (registers Qkeys)
from . import curation_queries  # noqa: F401  (registers Qkeys)
from . import eval_queries  # noqa: F401  (registers Qkeys)
from . import llm_ops  # noqa: F401  (registers Qkeys)
from . import mining_queries  # noqa: F401  (registers Qkeys)
from . import olap_suite  # noqa: F401  (registers Qkeys)
from . import report_queries  # noqa: F401  (registers Qkeys)
from . import retrieval_queries  # noqa: F401  (registers Qkeys)
from . import sink_queries  # noqa: F401  (registers Qkeys)
from . import streaming_queries  # noqa: F401  (registers Qkeys)
from .oracle import ORACLE

# ---------------------------------------------------------------------------
# Registry order curation. The driver's correctness sweep takes the
# first 50 keys in dict order, so the registry iterates the active
# sweep window first. The window is its rotation head (keys added or
# implementation-changed since the last cut) plus the STALEST
# driver-green keys: each key's latest round in the union of the
# CORRECTNESS_r*.json artifacts, sorted (round, key) ascending, head
# keys excluded (tests/test_window_derivation.py re-derives the fill
# from the artifacts on disk). Keys past position 50 remain registered
# and internally oracle-checked. Earlier rounds' windows are in the
# git history and in their CORRECTNESS_r*.json artifacts.
#
# The flip to the next round: the next-round head becomes the active
# head, the fill is re-derived, and the next-round head starts empty.
# Every key appended to the next-round head is immediately held to the
# sf0.01 driver-grade preflight (tests/test_window_preflight.py).
# ---------------------------------------------------------------------------

# Head of the active (round-15) window: keys added or
# implementation-changed during round 14 after its window was cut.
_ACTIVE_HEAD: list[str] = [
    # r14 session: implementation-changed by the two-phase
    # (user, purchase) -> user attribution aggregate (the
    # count_distinct -> Expand defect class sql_waiting_suppliers
    # had; streaming/windows.py attributed_*_agg). All six consumers
    # re-verified oracle-EXACT (money columns ==) at sf0.01 in
    # session; plans Expand-free.
    "stream_stream_join", "stream_stream_join_live",
    "stream_stream_join_outer", "stream_stream_join_outer_live",
    "stream_stream_join_full", "stream_stream_join_full_live",
    # r14 session: presentation-order bias diagnostic next to the
    # BT/RK preference leaderboards (r13 verdict task 6 — the one
    # suggested addition; reuses the per-user cell build with the
    # user-md5 parity as the order cohort bit, plain-SQL oracle)
    "eval_order_bias",
    # r14 session, added at the r15 flip (VERDICT r14 item 1: "bank
    # the round-14 wins under the driver"): every query path the r14
    # optimizer REWROTE landed after the r14 window was cut, so none
    # of them has a driver row on its current plan. The rewrites:
    # lex_embed bigint node encoding + packed argmin orderings
    # (63be810), basket-array pair generation + halved SSSP pair
    # exchange (99b8615), whole-row distinct in minhash_lsh_pairs
    # (e44ff50 — eval_blocking_quality and the live incremental
    # dedup stream consume the same helper), and the link-prediction
    # edge checkpoint (a72a43c).
    "graph_label_propagation", "graph_pagerank_fixed",
    "graph_bfs_distances", "graph_weighted_sssp",
    "mining_basket_pairs", "pairs_hard_negatives",
    "pairs_hard_negatives_ivf", "sim_range_search",
    "sim_range_search_ivf", "dedup_minhash_lsh",
    "graph_link_prediction", "graph_link_prediction_sampled",
    "decontaminate_minhash_lsh", "eval_blocking_quality",
    "stream_dedup_incremental_live",
    # r15 session: implementation-changed by the spherical_kmeans
    # fit-job fusion (modal-dim + seed scans in one pass, stable
    # iteration plan shape) — the four consumers of the fit re-enter
    # the sweep on their new build path (r14 verdict item 4/7).
    "sim_topk_cosine_ivf_learned", "sim_topk_cosine_ivf_trainsampled",
    "sim_index_persist_serve", "pipeline_index_serve_refresh",
    # r15 session: representative driver re-verifies for the two
    # iterative-chain rewrites (r14 verdict item 6): the
    # connected_components convergence-count fold (one node-keyed
    # shuffle join per round removed; dedup_canonical_map is the most
    # expensive of its seven consumers — the other six are staged in
    # _NEXT_HEAD and so run the sf0.01 preflight now) and
    # the k-core last-round checkpoint trim.
    "dedup_canonical_map", "graph_kcore_decompose",
]

# The 22 stalest driver-green keys after the head (union of
# CORRECTNESS_r01..r14): the first 22 (alphabetical) of the 35 keys
# whose latest row is r7.
_ACTIVE_FILL = [
    "dq_benford_digits", "embedding_standardize_stats",
    "explode_lines", "flatten_report_tree", "flatten_struct",
    "graph_triangle_count_sampled", "join_left_outer",
    "join_left_semi_anti", "json_extract_props", "json_from_string",
    "json_to_string", "mixture_perplexity_buckets",
    "parse_grouped_report", "parse_tabular_report",
    "pipeline_ccnet_dsir", "privacy_pseudonymize_consistent",
    "qbo_entity_billpayment_sparse", "qbo_entity_bills_pipeline",
    "qbo_entity_deposit", "qbo_entity_journal_explode",
    "qbo_entity_purchases_explode", "resample_daily_interpolate",
]
_ACTIVE_WINDOW = _ACTIVE_HEAD + _ACTIVE_FILL
assert len(_ACTIVE_WINDOW) == 50
assert len(set(_ACTIVE_WINDOW)) == 50

# Keys added or implementation-changed during round 15 after the
# window cut above: the head of the round-16 sweep.
_NEXT_HEAD: list[str] = [
    # r15 session: the remaining six consumers of the
    # connected_components convergence-count fold (the seventh,
    # dedup_canonical_map, took a round-15 window slot as the
    # representative re-verify; every one of these is preflighted at
    # sf0.01 this round and oracle-checked at sf0.001 every run)
    "dedup_cluster_components", "dedup_quality_keep",
    "stats_corpus_datasheet", "split_leakage_safe",
    "pipeline_filter_funnel", "pipeline_pretrain_prep",
    # r15 session: consumers of the lit(list) literal-array swap in
    # cosine_to_query / kcenter / PCA / the shared IVF probe builder
    # (one py4j call instead of one per element; array<double>
    # unchanged, int literals widen to bigint inside internal-only
    # columns — values identical). The four kmeans-window keys
    # already re-verify the cosine_topk exact legs; these cover the
    # remaining consumer shapes at driver grade via the preflight.
    "sim_topk_cosine", "sim_topk_cosine_ivf", "sim_topk_cosine_pq",
    "sim_topk_incremental", "sim_mmr_rerank", "sim_hybrid_rrf",
    "pipeline_rag_retrieval", "sim_topk_batch_queries",
    "eval_ann_recall", "eval_dim_ablation_recall",
    "eval_retrieval_ndcg", "sim_margin_bitext_mine",
    "sim_margin_bitext_mine_ivf", "select_kcenter_coreset",
    "embedding_pca_project",
]


def _curate(order: list[str]) -> None:
    missing = [k for k in order if k not in QUERIES]
    assert not missing, f"curated window names unknown Qkeys: {missing}"
    snapshot = dict(QUERIES)
    QUERIES.clear()
    for k in order + [k for k in snapshot if k not in order]:
        QUERIES[k] = snapshot[k]


_curate(_ACTIVE_WINDOW)

__all__ = ["QUERIES", "ORACLE", "flagship"]

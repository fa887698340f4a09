"""Shuffle budgets: pin the Exchange count of every contract query
(plus the heaviest extras) so a refactor that silently adds a shuffle
(the dominant cost at 100 TB) fails CI, not the cluster bill.

Budgets are CEILINGS observed from the current (reviewed) plans —
equality isn't required, a plan improvement that removes a shuffle
passes; adding one fails. Counts use plans/explain.exchange_count:
bare shuffle Exchange nodes only (BroadcastExchange and
ReusedExchange — including reused broadcasts — excluded).
"""

import pytest

pytestmark = pytest.mark.contract

from eventstream_notify_spark.plans.explain import exchange_count
from eventstream_notify_spark.registry import lookup

SF = "/root/testdata/sf0.001"

# query -> max allowed shuffle Exchanges in its physical plan.
# Observed at sf0.001 on the reviewed plans (2026-08 sweep).
BUDGETS = {
    # --- contract A/B/C: event-store + pipeline + aggregates -------
    "scan_events": 0,         # pure scan: any shuffle is a bug
    "scan_kv_all": 1,         # latest-per-key compaction agg
    "replay_last_n": 1,       # latest-per-id agg, then TakeOrdered
    "multi_topic_fanout": 0,  # explode is narrow
    "sink_keyed_upsert": 1,   # upsert key agg
    "sink_pubsub": 0,
    "dedup_ttl": 1,           # event_id shuffle only
    "rate_limit_user": 1,     # user_id window
    "filter_valid": 0,        # pure filter
    "pipeline_e2e": 3,        # dedup key, rate-limit window, admission agg
    "event_generator": 0,
    "agg_total_count": 1,
    "agg_user_counts": 1,
    "agg_distinct_users": 2,  # distinct = expand + two-phase agg
    "agg_rate_per_min": 1,
    # --- contract D: relational -----------------------------------
    "project_filter": 0,      # pure scan+filter
    "join_broadcast": 1,      # dims broadcast; only the final agg moves
    "join_shuffle": 1,
    "join_semi_anti": 2,
    "join_outer": 2,
    "join_range": 1,
    "agg_hash": 1,            # one partial->final agg exchange
    "agg_distinct": 2,
    "agg_rollup_cube": 1,     # expand before ONE agg exchange
    "window_rank": 1,
    "window_analytic": 1,
    "sort_limit_topk": 0,     # TakeOrdered: no exchange at all
    "set_ops": 2,
    "scalar_string": 0,       # scalar families: pure projections
    "scalar_datetime": 0,
    "scalar_math": 0,
    "scalar_json": 0,
    "scalar_array_map": 0,
    "subquery_scalar_in": 2,
    "udf_surface": 0,
    # --- contract E: streaming (bounded-run memory-sink reads) ----
    "stream_tumbling": 0,
    "stream_sliding": 0,
    "stream_session": 0,
    "stream_late_data": 0,
    "stream_foreach_sink": 1,
    # --- contract X: pipeline-data ops ----------------------------
    "dedup_exact": 1,         # sha2-key shuffle only
    "dedup_near": 1,          # blocked candidate join
    "sim_search_cosine": 1,   # corpus never shuffles; top-k window
    "text_tokenize_tf": 1,
    "text_lang_stats": 1,
    "text_sentiment_lex": 2,
    "multimodal_cols": 0,
    "ts_similarity": 4,
    "alert_rules": 0,         # rules broadcast onto the scan
    # --- heaviest extras (bench tail) -----------------------------
    "join_bucketed": 1,       # bucket layout: join is exchange-free
    "join_bloom_prune": 3,    # bloom build agg + pruned join sides
    "cep_pattern_match": 1,   # one user_id shuffle builds sequences
    "quantile_exact_grouped": 2,  # fact->counts agg + domain window
    "tpch_q2_cheapest_supplier": 2,  # r11: offer agg + the partkey
    # window (was 1 behind a localCheckpoint that HID the offer
    # build's exchange from the count while paying it at runtime,
    # plus two more re-shuffles of the checkpointed offer; the window
    # form is 2 visible exchanges and nothing else — decade 2.83 ->
    # 1.31x, 10x time 6.59 -> 1.82 s)
    "tpch_q9_product_profit": 1,
    "tpch_q21_waiting_orders": 4,  # +1 (r10): the EXISTS' lineitem
    # side is hinted shuffle_merge — both semi-join sides exchange —
    # because letting the 2-col fact projection slip under the
    # broadcast threshold made it a linearly-growing broadcast BUILD
    # (the driver-bound plan; measured 3.74x -> 2.42x per decade)
    "ts_similarity_dtw": 8,   # prune ladder + slab joins
    "stream_static_enrich": 0,
    "zorder_prune_audit": 12,  # two layouts x multi-probe admission
    "watermark_lateness_audit": 2,
    "text_bm25": 5,
    "text_collocations": 5,
    "dedup_near_embedding": 2,  # +1: probe-side repartition(vec_id) so
    # the broadcast block join's pair expansion parallelizes past the
    # corpus's input-split count (one split = one core otherwise)
    "graph_triangles": 10,    # class-graph algebra (bounded frames)
    "graph_triangle_count": 10,  # class compression (r8): class agg +
    # rep-pair generation + nbr/per-class/cross/ctri aggs — all on
    # class-graph-sized frames; the doc-pair list never materializes
    "corpus_curation": 2,
    "sim_search_ivfpq": 5,  # coarse-assign agg + encode agg + ADC agg
    # + shortlist window + re-rank window; sample/centroid collects
    # and every join side are broadcast
    "sim_search_pq": 6,  # +1: in-plan 1-row corpus-count agg sizing
    # the ADC shortlist (replaced a dedicated count() job)
    "compaction_plan": 1,  # one (source) window shuffle over file
    # metadata; the bin agg reuses its partitioning
    "target_encode_loo": 2,  # source agg + 1-row global agg, both
    # broadcast back; the fact scan never shuffles
    "conformal_interval": 6,  # train/cal/ncal aggs + per-type rank
    # window + test agg; model/quantile tables broadcast
    "kmeans_parallel_init": 0,  # result frame is driver-built; the
    # per-round cost/phi/sample jobs are literal-center scans + map-
    # side-combinable sums — no corpus shuffle anywhere
    "sim_search_bq": 3,  # threshold agg rides the lazy code
    # checkpoint; shortlist-count agg + Hamming window + re-rank
    # window; all joins broadcast
    "llm_bpe_encode": 2,
    "llm_kn_score": 10,  # model aggs (c12/c1/n1f/n1b/T) + dbg + the
    # natural-key model join + per-doc agg; the c12 subtree plans 4x
    # statically (runtime exchange reuse dedupes it at execution)
    "llm_ppl_buckets": 11,  # + per-source NTILE window on (doc_id,
    # source, score) rows only
    "dedup_cluster": 0,       # driver-folded components broadcast back
    "llm_decontaminate": 2,
    # --- r7 additions ---------------------------------------------
    "llm_dedup_substring": 2,   # shingle-min agg + join-back agg
    "llm_paragraph_dedup": 2,   # hash-min agg + join-back agg
    "llm_mix_temperature": 0,   # driver fold of a bounded lang table
    "llm_cross_source_overlap": 7,  # distinct + vocab self-join + aggs
    "llm_dedup_substring_spans": 2,
    "semdedup_prune": 6,        # assign argmax + cluster pairs + aggs
    "dsir_importance": 1,       # bucket counts fold to a literal map
    "hard_negative_mining": 2,  # broadcast-query kernel, two argmaxes
    "retrieval_eval_mrr": 1,
    "entity_resolution": 0,     # block join broadcasts the odd side
    "ab_cuped": 6,              # user agg + moment fold + arm agg
    "ts_changepoint_cusum": 4,  # minute agg, totals, prefix, argmax
    "cusum_alert": 1,           # one user_id shuffle feeds both windows
    "stream_cusum_alert": 0,    # memory-sink read of the bounded run
    "stream_cep_burst_buffered": 0,  # memory-sink read of the bounded run
    # --- r8 additions ---------------------------------------------
    "hybrid_rrf": 8,   # per-leg: idf term agg (the only corpus-scale
    # shuffle), 1-row doc count, (query,cand) agg + rank windows, and
    # the Q-bounded fusion join — everything past the scans is
    # query-set-cardinality
    "retrieval_eval_ndcg": 2,   # label counts agg + per-query window
    "survival_km": 3,  # user lifetime agg (the only fact shuffle) +
    # domain-bounded duration aggregation and curve windows; censor
    # horizon is a bounded 1-row driver fold
    "stream_dedup_exact": 0,    # memory-sink read of the bounded run
    "stream_dedup_minhash": 3,  # deliberate repartition(doc_id) so the
    # 11.2M-row partner explode parallelizes (streaming/dedup.py), then
    # post-stream distinct + degree agg
    "als_implicit": 4,  # final scoring plan: user solve pass + seen
    # join + top-k window; training iterations run at build time with
    # one user shuffle + one integer moment agg each
    "text_winnowing": 3,  # fp doc-frequency agg + bounded-bucket
    # group + pair agg; the fingerprint set is checkpointed so the
    # window-min expansion and its distinct run once
    "llm_unigram_train": 0,  # final plan is the driver-built piece
    # table; EM rounds run at build time (word-type shuffle + one
    # decimal moment agg each — the als_implicit posture)
    "llm_unigram_encode": 2,  # vocab distinct + per-doc agg; the
    # (word -> n_tokens) map joins back by broadcast
    "ab_permutation_test": 2,  # observed + replicate arm aggs off the
    # checkpointed per-(type,user) table (its one fact shuffle runs at
    # build time); replicate agg is map-side combinable so the post-
    # explode shuffle carries R x types x 2 rows
    "vec_pca_power": 0,  # final plan is the driver-built component
    # table; the single moment pass (d^2 decimal cells) runs at build
    # time with one shuffle
    "did_prepost": 2,  # 1-row bounds agg (broadcast back) + ONE
    # conditional-aggregate pass over the fact — no pivot join,
    # no second fact scan
    "text_nb_lang_classifier": 3,  # (doc, lang) score agg + doc argmax
    # + confusion agg; model tables broadcast, lang dims driver-folded,
    # actual_lang rides the token explode so predict never re-joins
    # the fact
    "eval_auc_roc": 2,  # score-histogram agg off the checkpointed
    # per-doc scores + final reduction; cum-below-neg uses the
    # bucket-prefix pattern, no global window exchange
    # --- r9 additions ---------------------------------------------
    "graph_link_prediction": 11,  # rides dedup_near's pair build,
    # then class-graph wedges/degrees (class-sized frames) and the
    # final per-doc top-K window; everything past the pair build moves
    # class-cardinality rows
    "ts_ar1_forecast": 2,  # (user, day) agg + per-user moment agg —
    # the user shuffle axis end to end
    "eval_pr_auc": 3,  # centroid posexplode agg + per-class ranking
    # window + final class agg; the N x K scoring frame is a broadcast
    "aqp_sample_estimate": 1,  # one grouped agg carries exact and
    # sampled moments together — the sample costs zero extra passes
    "llm_span_corruption": 0,  # pure per-doc projection + explode:
    # the mask plan never shuffles
    "mm_feature_extract": 0,  # Arrow map over the scan, no exchange
    "attribution_markov": 0,  # final plan is the driver-built effect
    # table; the journey/transition count runs at build time with the
    # user-window shuffle + one tiny (src,dst) agg
    "ts_similarity_dtw": 8,  # daily agg + z-norm window + day-key
    # pair join + top-K prune window + series re-agg on both join
    # sides; the DTW kernel itself adds none
    "store_delete_vectors": 2,  # source-position window + final
    # per-file agg; the delete side broadcasts
    "sim_search_maxsim": 1,  # queries broadcast; only the top-k
    # window moves rows
    "bandit_ucb_replay": 4,  # (arm,day) agg + per-arm cumulative
    # window + per-day total window + argmax window — all on the
    # bounded arms x days grid
    "graph_kcore": 1,  # final within-core degree agg; the peel
    # rounds run at build time as broadcast semi-joins
    "topk_heavy_change": 1,  # one conditional (user,type) agg, then
    # TakeOrdered — the delta table never sorts globally
    "llm_dataset_card": 2,  # the three distinct-counts share one
    # expand + two-phase aggregate
    "embedding_drift_mmd": 3,  # posexplode moment agg + the 2 x dims
    # side split/join + the final 1-row fold — corpus folds once
    "decayed_topk": 2,  # 1-row anchor agg (broadcast back) + ONE
    # (user, type) map-side-combined agg, then TakeOrdered
    "isotonic_calibration": 0,  # final plan is the driver-built
    # block table; the dollar-bin fold runs at build time
    "mutual_knn_pairs": 2,  # the cogrouped block-NL kernel emits N
    # top-1 rows (checkpointed once); mutuality is a SHUFFLE equi
    # self-join of that N-row 3-long table (both sides exchange —
    # nothing corpus-sized is ever forced into a broadcast); labels
    # ride planner-chosen broadcasts at test SF
    "vopt_histogram": 0,  # final plan is the driver-built bucket
    # table; the daily fold runs at build time with one shuffle
    "bot_regularity": 1,  # one user-key window+agg — the family axis
    "graph_modularity": 1,  # contributions checkpointed (pair build
    # + label joins run at build time); final plan: 1-row Q fold
    # broadcast back onto the per-cluster rows
    "stream_absence_alert": 0,  # final plan reads the bounded-replay
    # sink; the one user-key shuffle feeds the state store in-stream
    "coreset_kcenter": 0,  # final plan is the driver-built pick
    # table; each greedy round is one shuffle-free scan + TakeOrdered
    "bt_preference_fit": 0,  # final plan is the driver-built strength
    # table; the (user, day, type) fold + comparison join run at build
    # time with one fact shuffle (the markov posture)
    "theilsen_trend": 2,  # the (type, day) fact fold is checkpointed;
    # final plan: pair-join slope agg + residual-median agg over the
    # calendar-bounded daily series
    "token_drift_tv": 3,  # the token-count shuffle runs ONCE at
    # build time (checkpointed — three consumers); final plan: 1-row
    # totals + TV folds and the TakeOrdered movers
    "attribution_shapley": 5,  # ONE fact shuffle (user window; the
    # (user,sess) agg and first-purchase window ride the same
    # subset-key partitioning) + four single-digit-row lattice aggs
    # (mask, v(S), channel terms) — the Shapley combinatorics never
    # touches corpus-sized frames
}


@pytest.fixture(autouse=True)
def _factory_plan_state(spark):
    """Budgets are pinned under the FACTORY session posture, restored
    before EVERY measurement: earlier suite tests — and earlier
    budgeted queries in this very module (bucketed-table builds,
    layout audits) — legitimately flip plan-relevant knobs or leave
    cached relations whose unknown stats turn a broadcast join into a
    shuffle join (measured: q2 plans 1 Exchange pristine, 3 under
    leaked cache+threshold state; a module-scoped reset still failed
    because the leak can originate mid-module)."""
    spark.catalog.clearCache()
    for k, v in {
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            spark.sparkContext.defaultParallelism
        ),
    }.items():
        spark.conf.set(k, v)
    # leaked runtime-filter thresholds inject bloom builds (an extra
    # Exchange) into unrelated joins — root cause of the r7 q2 flake
    for k in (
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
    ):
        spark.conf.unset(k)
    yield


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_shuffle_budget(spark, name):
    from eventstream_notify_spark.plans.explain import plan_str

    df = lookup(name).fn(spark, SF)
    n = exchange_count(df)
    assert n <= BUDGETS[name], (
        f"{name}: {n} shuffle Exchanges > budget {BUDGETS[name]} — "
        "a shuffle crept into this plan:\n" + plan_str(df, mode="simple")
    )

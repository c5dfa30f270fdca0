"""Plan-level assertions for the query catalog: the physical plans the
engine promises at 100 TB — dims broadcast, range predicates pushed into
the parquet scan, scans pruned to the referenced columns — must actually
appear, not just be claimed in docstrings."""

from __future__ import annotations

import pytest

from logistics_data_pipeline_project_spark.queries import REGISTRY


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q02_broadcasts_supplier_dim(spark, sf_dir):
    plan = _explain(REGISTRY["q002_supplier_return_performance"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "fact⋈dim must be a broadcast join"
    assert "SortMergeJoin" not in plan


def test_q18_pushes_watermark_into_scan(spark, sf_dir):
    plan = _explain(REGISTRY["q018_incremental_event_load"].fn(spark, sf_dir))
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert pushed, "expected a parquet scan with PushedFilters"
    # the incremental watermark must be a pushed range predicate on the
    # ts attribute, not a post-scan filter on a derived column
    assert any(
        "GreaterThan(ts" in line or "GreaterThanOrEqual(ts" in line
        for line in pushed
    ), pushed


def test_q21_scan_prunes_to_referenced_columns(spark, sf_dir):
    plan = _explain(REGISTRY["q021_dedup_exact"].fn(spark, sf_dir))
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines
    line = schema_lines[0]
    assert "text" in line and "doc_id" in line
    # untouched columns must not be read
    for unused in ("lang", "source", "n_chars"):
        assert unused not in line, f"column {unused} should be pruned: {line}"


def test_q53_semi_join_pushes_returnflag(spark, sf_dir):
    plan = _explain(REGISTRY["q053_orders_with_returns"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan, "filter must reach the lineitem scan"


def _physical(df) -> str:
    """Physical plan tree only (explain('formatted') repeats every node
    name in its details section, which breaks occurrence counting)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_q74_funnel_runs_on_one_hash_exchange(spark, sf_dir):
    plan = _physical(REGISTRY["q074_event_funnel"].fn(spark, sf_dir))
    # three chained conditional window mins + the per-user collapse all
    # hash on user_id -> one shuffle of the event stream (the final global
    # agg is a SinglePartition collapse of one row per reducer)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q50_window_and_agg_share_one_exchange(spark, sf_dir):
    plan = _physical(REGISTRY["q050_user_event_gaps"].fn(spark, sf_dir))
    # lag/lead window and the final groupBy hash on the same key → exactly
    # one shuffle in the whole plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q58_threshold_and_probe_share_partitioning(spark, sf_dir):
    plan = _physical(REGISTRY["q058_small_quantity_revenue"].fn(spark, sf_dir))
    # part dim joins broadcast; only the l_partkey agg/join and the final
    # p_brand agg shuffle
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_q60_asof_is_single_shuffle(spark, sf_dir):
    plan = _physical(REGISTRY["q060_purchase_asof_view"].fn(spark, sf_dir))
    # the union+window as-of formulation must not introduce a join at all
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q61_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    plan = _explain(REGISTRY["q061_session_interval_events"].fn(spark, sf_dir))
    # binning turns the BETWEEN range join into an equi hash/sort-merge
    # join — a nested-loop plan would be O(points × intervals)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q91_no_expand_for_multi_distinct(spark, sf_dir):
    """The cascaded-aggregate rewrite must keep the Expand operator (2×
    row replication Spark plans for multiple COUNT(DISTINCT)s) out of the
    plan, and the order-supplier join must stay broadcast-free of sorts."""
    df = REGISTRY["q091_sole_late_supplier"].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in phys, "multi-distinct should be cascaded aggs, not Expand"


def test_q96_single_real_shuffle_join(spark, sf_dir):
    """Q7 shape: all four dims broadcast; the only non-broadcast join is
    lineitem⋈orders."""
    df = REGISTRY["q096_nation_pair_volume"].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in phys or phys.count("SortMergeJoin") <= 1


def test_q96_pushes_shipdate_range_into_scan(spark, sf_dir):
    plan = _explain(REGISTRY["q096_nation_pair_volume"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l and "GreaterThanOrEqual" in l for l in pushed), pushed


def test_q100_year_predicate_reaches_scan(spark, sf_dir):
    plan = _explain(REGISTRY["q100_dominant_part_suppliers"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_shipdate" in l for l in pushed), pushed


def test_q107_disjunction_factors_to_both_scans(spark, sf_dir):
    """TPC-H Q19 shape: Catalyst must factor each side's conjuncts out of
    the OR-of-AND-groups so BOTH scans carry a pushed disjunction —
    otherwise the predicate sits above the join and nothing prunes."""
    plan = _explain(REGISTRY["q107_disjunctive_revenue"].fn(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l and "Or(" in l for l in pushed), pushed
    assert any("l_quantity" in l and "Or(" in l for l in pushed), pushed


def test_q111_part_filter_prunes_fact_through_broadcast(spark, sf_dir):
    """Q9 shape: the part-name LIKE filter must land on the broadcast
    build side (pruning the lineitem stream through the join probe), and
    all three dims must broadcast — one real shuffle join at most."""
    df = REGISTRY["q111_product_profit_by_nation"].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert phys.count("BroadcastHashJoin") >= 3
    plan = _explain(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l for l in pushed), pushed


def test_q117_collapses_before_global_window(spark, sf_dir):
    """ABC classification must aggregate to O(parts) BEFORE the global
    cumulative window — the window's sort input is the aggregate, never
    the raw fact stream."""
    df = REGISTRY["q117_part_abc_classes"].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()
    # HashAggregate (partial+final) must appear below the Window in the
    # plan tree: the Window's child subtree contains the aggregate
    win_at = phys.index("Window")
    assert "HashAggregate" in phys[win_at:], "aggregate must feed the window"


def test_q136_sketch_collapses_map_side(spark, sf_dir):
    """The HLL register build must be a partial/final hash aggregate
    (map-side collapse to <=256 rows per group BEFORE the shuffle) with
    no window over the fact stream, and the scan must prune to the two
    referenced columns."""
    plan = _explain(REGISTRY["q136_distinct_users_hll"].fn(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "Window" not in plan, "register build must not sort the fact stream"
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines and "user_id" in schema_lines[0]
    for unused in ("props", "value", "event_id"):
        assert unused not in schema_lines[0], schema_lines[0]


def test_q139_single_fact_scan(spark, sf_dir):
    """The KMV pair algebra must consume ONE scan of the fact stream:
    the sketch is materialized once (localCheckpoint) and the pair
    universe + both tag sides reference the materialized rows, so the
    downstream plan contains NO parquet scan of events at all — without
    the materialization the sketch subtree (scan + dedup shuffle +
    window) is replicated three times, the exact shape the sketch exists
    to avoid."""
    phys = _physical(REGISTRY["q139_audience_overlap_kmv"].fn(spark, sf_dir))
    scans = [
        l for l in phys.splitlines() if "Scan parquet" in l and "events" in l
    ]
    assert not scans, f"expected no re-scan of events, got {len(scans)}"
    assert "ExistingRDD" in phys or "LocalTableScan" in phys


def test_q143_models_broadcast_no_smj(spark, sf_dir):
    """The trigram and prefix models are charset^n-bounded — scoring must
    be map-side broadcast joins, never a sort-merge of the token stream."""
    plan = _explain(REGISTRY["q143_char_trigram_rarity"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_q146_chunking_has_no_keyed_shuffle(spark, sf_dir):
    """Chunking is slice arithmetic over each row's own token array: the
    only allowed exchange is fan_out's deliberate ROUND-ROBIN widening of
    a byte-small scan (absent at real scale) — never a keyed shuffle."""
    plan = _explain(REGISTRY["q146_document_chunking"].fn(spark, sf_dir))
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_q148_pq_scoring_is_map_side(spark, sf_dir):
    """ADC scoring folds each candidate's code array against a broadcast
    literal table: between the code aggregation and the per-query top-k
    window there must be exactly the window's own exchange — scoring
    adds none (BroadcastNestedLoopJoin carries the tiny query table)."""
    df = REGISTRY["q148_ann_pq_topk"].fn(spark, sf_dir)
    plan = _explain(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_q155_bm25_scoring_is_all_broadcast(spark, sf_dir):
    """BM25's scoring joins (query terms, df table, doc lengths) must
    all ride broadcasts at catalog SF — the query-term pre-filter keeps
    the tf side tiny, so nothing in the score pipeline may fall back to
    a sort-merge of the token stream."""
    plan = _explain(REGISTRY["q155_bm25_topk"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_q174_asof_is_one_join_no_explosion(spark, sf_dir):
    plan = _physical(REGISTRY["q174_point_in_time_join"].fn(spark, sf_dir))
    # the PIT enrichment must run as union+window (zero joins), leaving
    # only the naive-vs-pit compare join — a range/theta join against the
    # SCD2 history (the naive formulation) would explode at 100 TB
    n_joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert n_joins == 1, f"expected exactly the compare join, got {n_joins}"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q176_attribution_single_event_shuffle(spark, sf_dir):
    plan = _physical(REGISTRY["q176_click_attribution"].fn(spark, sf_dir))
    # both touch points ride ONE user-partitioned window pass; the only
    # exchanges are the user hash and the final daily-rollup hash
    assert plan.count("Window") == 1, "both touch points must share one window"
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert "Join" not in plan


def test_q177_ring_assignment_is_pure_codegen(spark, sf_dir):
    plan = _physical(REGISTRY["q177_consistent_hash_shards"].fn(spark, sf_dir))
    # ring ownership is a chained-CASE literal: no join, no window — the
    # corpus-side work must be a single map-side-combined aggregate
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_catalog_wide_no_antipatterns(spark, sf_dir):
    """Sweep EVERY catalog query's physical plan for the two plan shapes
    this engine bans at 100 TB: row-at-a-time Python evaluation
    (BatchEvalPython — all Python crossings must be Arrow-batched) and
    unintended cartesian products. BroadcastNestedLoopJoin is allowed
    only where a tiny broadcast side rides a non-equi or cross pattern
    by design (ANN query tables, grid dims); CartesianProduct (both
    sides unbroadcast) is never acceptable."""
    allowed_bnlj = {
        # tiny broadcast sides by design (query sets, scalar thresholds,
        # sketch state, dim grids) — each rides a cross/non-equi pattern
        # whose broadcast side is O(1)..O(k) rows:
        "q025_ann_cosine_topk",      # broadcast query-vector set
        "q057_source_lang_grid",     # tiny dim-grid cross
        "q092_dormant_rich_customers",  # broadcast scalar threshold
        "q094_important_part_value",    # broadcast scalar threshold
        "q122_cms_heavy_hitters",    # broadcast sketch/threshold row
        "q130_event_type_lift",      # broadcast pair supports
        "q139_audience_overlap_kmv", # broadcast KMV sketch pairs
        "q148_ann_pq_topk",          # broadcast per-query ADC tables
        "q154_importance_resample",  # broadcast 1-row corpus-mass scalars
        "q160_matryoshka_recall",    # broadcast query-vector set (2 passes)
        "q201_quality_score_auc",    # broadcast 1-row AUC scalar onto ROC points
        "q202_lang_id_kappa",        # broadcast 1-row chance-agreement scalar
    }
    offenders = {}
    for name, spec in sorted(REGISTRY.items()):
        plan = _explain(spec.fn(spark, sf_dir))
        bad = []
        if "BatchEvalPython" in plan:
            bad.append("row-at-a-time Python (BatchEvalPython)")
        if "CartesianProduct" in plan:
            bad.append("CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in allowed_bnlj:
            bad.append("unexpected BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_q220_image_hash_single_exchange(spark, sf_dir):
    plan = _physical(REGISTRY["q220_image_dhash_audit"].fn(spark, sf_dir))
    # one deliberate repartition spreads the CPU-bound codec work; the
    # generate->decode->hash pipeline itself is narrow (payloads never
    # shuffle)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("MapInPandas") == 1, plan  # generate + hash, fused


@pytest.mark.parametrize(
    "name",
    ["q161_png_resize_audit", "q199_jpeg_codec_audit", "q244_warc_crawl_census"],
)
def test_codec_generate_and_probe_cross_into_python_once(spark, sf_dir, name):
    plan = _physical(REGISTRY[name].fn(spark, sf_dir))
    # the fixture generator and the codec probe run as one fused Python
    # node (operators/rowmap.py), not two stacked ones per task
    assert plan.count("MapInPandas") == 1, plan


def test_q221_neardup_join_shuffles_fingerprints_not_pixels(spark, sf_dir):
    plan = _physical(REGISTRY["q221_image_neardup_pairs"].fn(spark, sf_dir))
    # the LSH candidate join is an equi-join on (band, val) — never a
    # cartesian/nested-loop (at test scale the planner may broadcast one
    # side; at corpus scale it hash-shuffles the same keys) — and the
    # binary payload column must be consumed by the hash stage, never
    # reaching any exchange
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    join_lines = [l for l in plan.splitlines() if "HashJoin" in l]
    assert join_lines and all("band" in l and "val" in l for l in join_lines), plan
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert exchanges and all("payload" not in line for line in exchanges), plan


def test_q223_best_of_n_single_aggregation_exchange(spark, sf_dir):
    plan = _physical(REGISTRY["q223_best_of_n_selection"].fn(spark, sf_dir))
    # winner + runner-up fall out of ONE aggregation (sort_array over
    # bounded candidate structs): exactly one exchange, no window, no
    # self-join
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_q224_url_dedup_single_exchange(spark, sf_dir):
    plan = _physical(REGISTRY["q224_url_canonical_dedup"].fn(spark, sf_dir))
    # canonicalization is a pure projection riding the scan; the dedup
    # group-by is the only shuffle
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q225_domain_cap_two_phase(spark, sf_dir):
    plan = _physical(REGISTRY["q225_domain_doc_cap"].fn(spark, sf_dir))
    # phase 1 hashes on (source, bucket), phase 2 on source — exactly two
    # exchanges, the bucketed one first (no single-reducer-per-domain
    # window over the raw corpus); Spark 4 additionally pushes the cap
    # below both exchanges as Partial WindowGroupLimits, so each shuffle
    # carries at most cap rows per (group, map partition)
    assert plan.count("Exchange hashpartitioning") == 2, plan
    lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # earliest exchange (printed last) hashes on TWO keys: source + bucket
    assert lines[-1].count("#") >= 2 and "source" in lines[-1], plan
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_q230_blocklist_gate_is_broadcast_anti(spark, sf_dir):
    plan = _physical(REGISTRY["q230_domain_blocklist_filter"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the corpus shuffles once, for the counts — never for the gate
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q232_codec_triage_single_map_pass(spark, sf_dir):
    plan = _physical(REGISTRY["q232_media_codec_triage"].fn(spark, sf_dir))
    # header sniffing rides one Arrow map stage; the only exchange is
    # the tiny 5-column rollup
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan, plan


def test_q234_mp3_triage_zero_shuffle_after_gen(spark, sf_dir):
    plan = _physical(REGISTRY["q234_mp3_stream_triage"].fn(spark, sf_dir))
    # per-doc triage is a pure map: the only exchange is the fixture
    # generator's repartition, never a data shuffle or join
    assert "Join" not in plan and "Sort" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_q236_orientation_dedup_map_then_project(spark, sf_dir):
    plan = _physical(REGISTRY["q236_image_orientation_dedup"].fn(spark, sf_dir))
    # decode+normalize+hash confined to Arrow stages: no join, no agg
    # exchange — fingerprints come out as a projection
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_q245_robots_gate_is_broadcast_join(spark, sf_dir):
    plan = _physical(REGISTRY["q245_robots_txt_gate"].fn(spark, sf_dir))
    # the rule table (KBs per domain) broadcasts; the page corpus never
    # sort-merge-joins for the consent gate — same stance as the q230
    # blocklist — and one aggregate on the page id decides
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q247_warc_pipeline_single_scan_broadcast_gate(spark, sf_dir):
    plan = _physical(REGISTRY["q247_warc_to_corpus"].fn(spark, sf_dir))
    # the crawl bytes must be generated by exactly one fixture pass and
    # read by EXACTLY ONE Arrow walk (the extraction lane), fused into
    # that pass — a second pass over the payload would be the
    # cross-operator repeated-scan bug this composed query exists to
    # catch; the other MapInPandas (robots_rules' parse) runs over the
    # KB-sized domain table, not the corpus
    assert plan.count("MapInPandas q247_warc_to_corpus+warc_html_documents(") == 1, plan
    assert plan.count("MapInPandas") == 2, plan
    # the robots rule table broadcasts; the page corpus never
    # sort-merge-joins for the gate
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan

"""Physical-plan assertions: lock in the scale properties the engine
claims (COVERAGE.md ledger) so a refactor can't silently regress them.
These read executedPlan strings — brittle on Spark upgrades by design:
a failure here means 're-audit the plan', which is the point.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from datapipeline_spike_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


# one home for the nontrivial plan-text parsers: a second copy would
# drift when a Spark upgrade changes node rendering
def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan(spark, name):
    return _plan_of(REGISTRY[name].spark(spark, SF))


def _window_groups(plan: str):
    """Bracket-group counts for every Window node (3+ = partitioned,
    2 = the unpartitioned scale-killer)."""
    import re as _re

    out = []
    for line in plan.splitlines():
        s = line.lstrip(" +-:|*(0123456789)")
        if s.startswith("Window "):
            out.append(len(_re.findall(r"\[[^\]]*\]", s)))
    return out


def test_filter_pushdown_reaches_parquet_scan(spark):
    """pricing_summary filters l_shipdate; the predicate must reach the
    scan (row-group pruning at 100 TB), not sit in a post-scan Filter
    only."""
    plan = _plan(spark, "pricing_summary")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_star_join_broadcasts_dimensions(spark):
    """revenue_by_segment joins customer->orders->lineitem; dims must
    broadcast (no sort-merge shuffle of the fact table against a
    KB-sized dimension)."""
    plan = _plan(spark, "revenue_by_segment")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q3_shape_broadcasts_and_takeordered(spark):
    plan = _plan(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan
    # global top-k must be TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan


def test_single_aggregation_exchange(spark):
    """vibration_features is one groupBy: exactly one shuffle, with
    map-side partial aggregation before it."""
    plan = _plan(spark, "vibration_features")
    assert plan.count("Exchange") == 1
    assert "partial" in plan  # HashAggregate(... partial_...)


def test_column_pruning_projects_needed_columns_only(spark):
    """status_route_counts touches event_type/value; the scan schema
    must not include props (a wide JSON column)."""
    df = REGISTRY["status_route_counts"].spark(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln or "Scan parquet" in ln)
    assert "props" not in scan


def test_exists_subquery_decorrelates_to_semi_join(spark):
    """The correlated EXISTS (Q4 shape) must plan as a semi join, never
    a per-row subquery or nested loop over the fact table."""
    plan = _plan(spark, "late_shipment_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_scalar_subquery_decorrelates_to_aggregate_join(spark):
    """The correlated scalar subquery (Q17 shape) must plan as one
    per-part aggregate joined back — two scans, no repeated subquery."""
    plan = _plan(spark, "small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the decorrelated per-part average appears as a partial aggregate
    assert plan.count("HashAggregate") >= 2


def test_spectral_window_single_exchange(spark):
    """The capped window builder ranks and aggregates on the SAME
    attribute, so the row_number window and the collect_list agg share
    one exchange (a second shuffle of the full event stream would double
    the query's wire cost at scale)."""
    plan = _plan(spark, "spectral_energy")
    assert plan.count("Exchange hashpartitioning") == 1


def test_envelope_flatten_plans_no_python_udf(spark):
    """The OLAP flatten path opts out of the frequency domain, so the
    executed plan must contain NO Python evaluation node — r1's #3 bench
    query paid three per-axis Arrow round-trips for columns it never
    returned (Catalyst cannot prune a planned pandas UDF)."""
    for name in ("record_envelope_flat", "envelope_reduced_features"):
        plan = _plan(spark, name)
        assert "EvalPython" not in plan, name  # Arrow/BatchEvalPython


def test_flat_olap_row_plans_one_exchange_no_arrays(spark):
    """record_envelope_flat is the warehouse OLAP row computed by direct
    scalar aggregation: exactly one shuffle (window means + groupBy key
    on the same projected attributes) and NO collect_list — the r2 form
    materialized an O(group-size) batch array per group, a per-group
    memory bomb at 100x scale factor."""
    plan = _plan(spark, "record_envelope_flat")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "collect_list" not in plan


def test_envelope_record_synthesis_caps_group_payload(spark):
    """The array-building envelope path bounds its per-group payload:
    with max_samples=2 every batch array is exactly 2 long (rank by
    event_id, lowest ids kept) even though source groups are larger, and
    the rank window shares the groupBy's single exchange."""
    from datapipeline_spike_spark.pipeline import records_from_events
    from datapipeline_spike_spark.plans.registry import load

    events = load(spark, SF, "events")
    capped = records_from_events(events, max_samples=2)
    sizes = capped.select(
        F.min(F.size("vibration_x_batch")).alias("lo"),
        F.max(F.size("vibration_x_batch")).alias("hi"),
    ).first()
    uncapped_hi = (
        records_from_events(events)
        .select(F.max(F.size("vibration_x_batch")))
        .first()[0]
    )
    assert uncapped_hi > 2  # the cap actually binds on this data
    assert sizes["hi"] == 2
    plan = records_from_events(events)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_lsh_has_no_cartesian_or_smj(spark):
    """The dedup path must never plan a cartesian product."""
    for name in ("minhash_lsh_candidates", "embedding_neardup_pairs"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_lake_join_uses_dynamic_partition_pruning(spark, tmp_path):
    """100 TB lake posture: a fact-dim join where the dim filter is only
    knowable at runtime must inject a dynamic partition pruning subquery
    into the fact scan — without DPP the join reads every machine
    partition and filters after the fact."""
    from datapipeline_spike_spark.plans.registry import load
    from datapipeline_spike_spark.sources.parquet_lake import read_zone, write_zone

    events = load(spark, SF, "events").withColumn(
        "machine", F.concat(F.lit("M"), (F.col("user_id") % 8).cast("string"))
    )
    write_zone(events, str(tmp_path), "raw")
    fact = read_zone(spark, str(tmp_path), "raw")
    dim = spark.createDataFrame(
        [("M0", "line_a"), ("M1", "line_b")], "machine string, line string"
    ).filter(F.col("line") == "line_a")
    joined = fact.join(F.broadcast(dim), "machine").groupBy("machine").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_contamination_broadcasts_benchmark_ngrams(spark):
    """benchmark_contamination joins corpus n-grams against the
    benchmark n-gram set: the benchmark side must broadcast (eval-suite
    cardinality, never corpus cardinality) — a sort-merge shuffle of
    the corpus explode against it would dominate at 100 TB."""
    plan = _plan(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_only(spark):
    """stratified_sample is pure per-row decision logic: zero shuffles
    beyond the (possible) fan_out repartition of an under-split scan —
    no aggregation, no join, no window."""
    plan = _plan(spark, "stratified_sample")
    # fan_out may inject one round-robin Exchange on the tiny scan; any
    # OTHER exchange means the sampler stopped being oblivious
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_heavy_hitters_candidate_join_is_broadcast_semi(spark):
    """Pass 2 of the frequent-items scheme must plan as a broadcast
    LEFT SEMI against the tiny candidate set — a sort-merge shuffle of
    the token stream would throw away the sketch's whole point."""
    plan = _plan(spark, "heavy_hitter_tokens")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_kmv_final_bottom_k_is_take_ordered(spark):
    """The KMV synopsis's global bottom-k must be TakeOrderedAndProject
    over the per-batch survivors, never a full sort of the hash
    stream."""
    plan = _plan(spark, "kmv_distinct_ngrams")
    assert "TakeOrderedAndProject" in plan


def test_pii_redaction_is_map_only_codegen(spark):
    """PII redaction is per-row regex work: zero shuffles beyond the
    fan_out repartition, zero Python nodes — the whole pass must stay
    inside whole-stage codegen to run at scan speed at 100 TB."""
    plan = _plan(spark, "pii_redaction")
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "EvalPython" not in plan


def test_context_pack_window_and_agg_share_one_exchange(spark):
    """Packing = one shard-partitioned window cumsum + a (shard, seq)
    aggregation. The groupBy keys are a superset of the window
    partition key, so Catalyst must reuse the shard hash partitioning:
    fan_out + exactly one more exchange, and no global (single
    partition) window."""
    plan = _plan(spark, "context_pack_stats")
    assert plan.count("Exchange") <= 2
    assert "SinglePartition" not in plan


def test_segment_dedup_joins_without_cartesian_or_smj(spark):
    """Segment doc-frequency joins segment rows back to per-segment
    counts on seg_hash: a hash join co-partitioned on the same key —
    never a cartesian, and no sort-merge on the md5 key needed at this
    size (AQE picks the broadcast/shuffled-hash form)."""
    plan = _plan(spark, "segment_dedup_profile")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_mixture_rate_join_is_broadcast(spark):
    """corpus_mixture_plan joins the 5-row (lang, rate) plan back to the
    corpus for the keep decision — that join must broadcast, never
    shuffle the corpus against a handful of rows."""
    plan = _plan(spark, "corpus_mixture_plan")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ann_recall_has_no_cartesian_beyond_baseline(spark):
    """ann_recall_at_k: the LSH side must join on the bucket key; the
    only nested-loop join allowed is the documented brute-force baseline
    (broadcast query side)."""
    plan = _plan(spark, "ann_recall_at_k")
    assert "SortMergeJoin" not in plan
    # brute-force baseline is a BroadcastNestedLoopJoin (5 query rows);
    # anything non-broadcast would be an all-pairs regression
    assert "CartesianProduct" not in plan


def test_minhash_estimate_verifies_candidates_only(spark):
    """minhash_jaccard_estimate must score LSH candidates only — no
    self cross join of documents; signature/shingle joins broadcast or
    hash on doc id."""
    plan = _plan(spark, "minhash_jaccard_estimate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_joins_are_bounded(spark):
    """incremental_ingest_dedup: candidates come from fingerprint/band
    equi-joins — an all-pairs (cartesian/BNLJ) incoming x existing scan
    would defeat the entire incremental design."""
    plan = _plan(spark, "incremental_ingest_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_audit_headline_queries_clean(spark):
    """Broad-net plan linter over the bench headline set: no cartesian
    products, no nested-loop joins, no row-at-a-time Python UDFs, no
    surprise Python stages outside the documented allowlists
    (tools/plan_audit.py runs the same rules over the full registry)."""
    from plan_audit import BNLJ_OK, CARTESIAN_OK, PANDAS_NODES, PANDAS_OK

    import bench

    for name in bench.HEADLINE:
        plan = REGISTRY[name].spark(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        if name not in CARTESIAN_OK:
            assert "CartesianProduct" not in plan, name
        if name not in BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, name
        if name not in PANDAS_OK:
            assert not any(n in plan for n in PANDAS_NODES), name


def test_quality_filter_is_map_only(spark):
    """quality_filter_decision must be one scan, zero exchanges — every
    rule input derives from the row itself (the distinct ratio uses the
    doc's own token array, never a corpus aggregate)."""
    plan = _plan(spark, "quality_filter_decision")
    import re as _re
    # fan_out may add one round-robin repartition on single-split scans;
    # no hash/range exchange (= no shuffle) is the invariant
    assert not _re.search(r"Exchange (hash|range)partitioning", plan)
    assert "EvalPython" not in plan


def test_scd2_history_single_exchange(spark):
    """scd2_user_state_history: the run-collapse window, the version
    aggregate, and the valid_to lead all key on user_id — ONE hash
    exchange total (partitioning by the key satisfies the aggregate's
    superset clustering), no adjacency self-join."""
    plan = _plan(spark, "scd2_user_state_history")
    assert plan.count("Exchange") == 1
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_url_dedup_single_exchange(spark):
    """url_host_dedup: canonicalization is map-only codegen; the only
    HASH shuffle is the window over the canonical key (the round-robin
    fan_out of the single-split testdata scan is not a keyed shuffle)."""
    plan = _plan(spark, "url_host_dedup")
    assert plan.count("Exchange hashpartitioning") == 1


def test_winnowing_window_and_agg_share_partitioning(spark):
    """winnowing_fingerprints: positional explode is map-only; the
    window min and the per-doc aggregates (including the distinct-fp
    expansion) all key on doc_id, so the whole query plans exactly one
    HASH exchange (plus the single-split fan_out round-robin)."""
    plan = _plan(spark, "winnowing_fingerprints")
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontamination_bench_set_is_broadcast(spark):
    """decontamination_span_removal: the benchmark n-gram set must
    broadcast (eval-suite-sized) — a sort-merge join here would shuffle
    the corpus's positional n-gram explosion."""
    plan = _plan(spark, "decontamination_span_removal")
    assert "BroadcastHashJoin" in plan


def test_quality_classifier_is_map_only(spark):
    """The linear classifier must plan zero shuffle exchanges and zero
    Python stages — a pure scan+project decision (COVERAGE r7)."""
    plan = _plan(spark, "quality_classifier_score")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_returned_items_pushes_returnflag_and_takeordered(spark):
    """Q10 shape: the returnflag predicate reaches the lineitem scan and
    the global top-20 is TakeOrderedAndProject, never a full sort."""
    plan = _plan(spark, "returned_item_losses")
    assert re.search(r"PushedFilters: \[[^\]]*l_returnflag", plan)
    assert "TakeOrderedAndProject" in plan
    assert "rank(" not in plan


def test_local_supplier_volume_broadcasts_all_dims(spark):
    """Q5 shape: nation/region carry hints; supplier/customer join
    hint-free (AQE broadcasts them at this sf because they actually
    fit); the only sort-merge (if any) is fact-fact on orderkey."""
    plan = _plan(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_sq8_ranking_is_integer_and_broadcast(spark):
    """SQ8: the approximate ranking joins against BROADCAST query codes
    (bounded), and the integer-distance path plans no Python stage."""
    plan = _plan(spark, "sq8_recall_at_k")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_no_forced_broadcast_on_sf_scaling_customer(spark):
    """customer scales linearly with SF (sf100 ~ 15M rows): a forced
    broadcast hint bypasses Spark's size check and OOMs executors at
    the 100x target. Only the fixed-small dims (nation 25 rows, region
    5, supplier at Q5's filtered grain) may carry hints — the customer
    join decision belongs to AQE's runtime size estimate. Pin the exact
    logical hint count per star-join query so a hint on customer cannot
    sneak back in."""
    expected = {
        "revenue_by_segment": 0,
        "shipping_priority": 0,
        "local_supplier_volume": 2,  # nation, region only (r9: supplier hint dropped)
        "returned_item_losses": 1,   # nation
        "referential_integrity_audit": 2,  # nation x2 (r9: customer key-set hint dropped)
    }
    for name, n_hints in expected.items():
        analyzed = (
            REGISTRY[name]
            .spark(spark, SF)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert analyzed.count("ResolvedHint") == n_hints, (
            f"{name}: expected {n_hints} broadcast hints, plan has "
            f"{analyzed.count('ResolvedHint')}"
        )


def test_q19_disjunction_pushes_into_both_scans(spark):
    """branded_quantity_bands: Catalyst must decompose the OR-ed
    brand/size/quantity conjunctions into per-table OR-of-conjuncts and
    push them into BOTH parquet scans (the join must not see unfiltered
    fact rows)."""
    plan = _plan(spark, "branded_quantity_bands")
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", plan)
    assert re.search(r"PushedFilters: \[[^\]]*p_brand", plan) or re.search(
        r"PushedFilters: \[[^\]]*p_size", plan
    )


def test_q18_aggregates_lineitem_before_joining(spark):
    """large_volume_orders: the quantity HAVING-aggregate must run on
    lineitem BEFORE any join (aggregate-then-join); top-100 is
    TakeOrderedAndProject. A HashAggregate keyed on l_orderkey below
    the first join is the witness: its input is the bare lineitem scan,
    not a join output."""
    plan = _plan(spark, "large_volume_orders")
    assert "TakeOrderedAndProject" in plan
    first_join = min(
        i for i in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
        if i >= 0
    )
    agg_pos = plan.find("HashAggregate(keys=[l_orderkey")
    assert agg_pos >= 0
    # the aggregate subtree appears below (after, in toString order) the
    # topmost join but must itself contain no join under it
    assert "Join" not in plan[agg_pos:]


def test_q14_part_join_has_no_forced_hint(spark):
    """promo_revenue_share: part scales with SF like customer — the
    join must carry no forced broadcast hint (AQE decides)."""
    analyzed = (
        REGISTRY["promo_revenue_share"]
        .spark(spark, SF)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in analyzed


def test_no_broadcast_source_site_targets_sf_scaling_table():
    """Source-level tripwire (r9, VERDICT r8 item 2): no F.broadcast(
    call site in the plan catalogs may target a raw SF-scaling table
    frame. The catalogs bind the raw tables to the conventional names
    c/s/o/l/li (and occasionally the full table name); a hint on any of
    them bypasses Spark's size check and OOMs executors at the 100x
    target. Bounded broadcasts (1-row aggregates, <=k centroids, query
    sets, nation/region) are named differently and pass."""
    import pathlib
    import re

    forbidden = re.compile(
        r"F\.broadcast\(\s*(c|s|o|l|li|cust\w*|supplier\w*|orders?|lineitem\w*)\s*[),]"
    )
    # scoped to plans/ as documented above (ADVICE r9 item 3): the
    # conventional one-letter bindings only hold in the plan catalogs;
    # an operators/ frame like `supplier_totals` (a 1-row aggregate)
    # would false-positive under this regex
    plans_dir = (
        pathlib.Path(__file__).resolve().parents[1]
        / "datapipeline_spike_spark"
        / "plans"
    )
    hits = []
    for py in plans_dir.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if forbidden.search(line):
                hits.append(f"{py.name}:{i}: {line.strip()}")
    assert not hits, "forced broadcast on an SF-scaling table:\n" + "\n".join(hits)


def test_q6_pushdown_and_single_exchange(spark):
    """forecast_revenue_change (TPC-H Q6): all three predicates must
    reach the parquet scan (row-group pruning is the whole query at
    100 TB) and the 1-row aggregate is the only exchange."""
    plan = _plan(spark, "forecast_revenue_change")
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*l_discount", plan)
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", plan)
    assert plan.count("Exchange") == 1  # single-partition final agg


def test_q21_self_joins_are_equi_not_nested_loop(spark):
    """waiting_suppliers (TPC-H Q21): the two fact self-correlations
    (EXISTS/NOT EXISTS with a suppkey inequality) must plan as equi
    semi/anti joins on l_orderkey with the inequality as a residual
    condition — a BroadcastNestedLoopJoin here is quadratic in the
    fact table."""
    plan = _plan(spark, "waiting_suppliers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_q15_max_subquery_stays_in_plan(spark):
    """top_supplier_revenue (TPC-H Q15): the max-over-aggregate must
    stay INSIDE the plan as the allowlisted broadcast 1-row cross — a
    plan-build collect would inline the max as a literal and the cross
    join would vanish (parquet-footer jobs at load() make job-count
    assertions useless here; the plan structure is the contract)."""
    plan = _plan(spark, "top_supplier_revenue")
    # Catalyst rewrites the equality-filtered cross into a broadcast
    # HASH join on the (normalized) revenue key — strictly better than
    # the nested loop; what matters is that it IS a join, not a
    # collected literal, and nothing quadratic appears
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # max-match + supplier
    # two aggregate trees: per-supplier revenue AND its max
    assert plan.count("HashAggregate") >= 4  # partial+final for each


def test_q8_filters_before_joins(spark):
    """market_share (TPC-H Q8): the part type filter and the orders
    date range must sit AT the scans (PushedFilters), not above the
    8-relation join tree."""
    plan = _plan(spark, "market_share")
    assert re.search(r"PushedFilters: \[[^\]]*p_type", plan)
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)


def test_q16_exclusion_is_anti_join_and_size_pushdown(spark):
    """supplier_part_types (TPC-H Q16): the NOT IN exclusion plans as
    an anti join (never a per-row subquery), and the size IN-list
    reaches the part scan."""
    plan = _plan(spark, "supplier_part_types")
    assert "LeftAnti" in plan
    assert re.search(r"PushedFilters: \[[^\]]*p_size", plan)


def test_ivfpq_recall_shares_residuals_and_codebooks(spark):
    """r12 regression guard for the ivfpq checkpoint fix: without the
    eager materialization of the residual frame and the trained
    codebooks, every consumer re-executes the coarse-assignment literal
    and the whole Lloyd's chain (measured 2.4x on the 1x probe). The
    executedPlan must read the embeddings parquet only for the query
    set, the coarse-centroid collect feed, and the exact baseline —
    the index side must come from checkpointed RDD scans."""
    plan = _plan(spark, "ivfpq_recall_at_k")
    assert "Scan ExistingRDD" in plan  # the checkpointed frames
    # embeddings file scans: corpus baseline + broadcast query set on
    # the exact side, plus the query-probe projection on the index
    # side; the residual/codebook subtrees must NOT re-scan the file
    n_scans = plan.count("embeddings.parquet")
    assert n_scans <= 4, f"{n_scans} embeddings scans: checkpoint lost?"


def test_containment_registered_shape(spark):
    """ngram_containment_pairs (registered r14, kept frame persist()ed
    r16): candidate generation must be the inverted-index equi-join —
    no CartesianProduct, no sort-merge self-join of the raw doc frame,
    and no Python stage. The shared kept frame must be CACHED and read
    by all four consumers (sizes x2 + both posting sides) as
    InMemoryTableScan — the r16 persist fix (a localCheckpoint here,
    even lazy, fires the AQE shuffle stages at plan build). The only
    BNLJ is the allowlisted 1-row corpus-count cap cross INSIDE the
    cached subtree; the pre-materialization plan renders that subtree
    once per cache reference, so the count is bounded by the
    InMemoryTableScan count, not 1."""
    plan = _plan(spark, "ngram_containment_pairs")
    assert "CartesianProduct" not in plan
    n_cache = plan.count("InMemoryTableScan")
    assert n_cache >= 4, plan
    # every BNLJ line comes from the cached subtree's rendering, which
    # prints once per cache reference (and can render nested when the
    # CacheManager resolved against an earlier InMemoryRelation), so
    # raw occurrence counts are unstable. Pin the DISTINCT normalized
    # BNLJ shapes instead (ADVICE r16: a raw <= 2*n_cache bound could
    # mask a genuinely new unallowlisted BNLJ): every BNLJ line in the
    # plan, with expression ids stripped, must be the ONE allowlisted
    # 1-row build-right cap cross.
    import re

    bnlj_shapes = {
        re.sub(
            r"#\d+[A-Za-z]*",
            "#",
            ln[ln.index("BroadcastNestedLoopJoin"):].strip(),
        )
        for ln in plan.splitlines()
        if "BroadcastNestedLoopJoin" in ln
    }
    # <= 1: zero is a strict improvement (Catalyst already rewrites
    # top_supplier_revenue's 1-row cross into a BroadcastHashJoin —
    # the same could happen here)
    assert len(bnlj_shapes) <= 1, bnlj_shapes
    if bnlj_shapes:
        assert "BuildRight" in next(iter(bnlj_shapes)), bnlj_shapes
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_dhash_registered_shape(spark):
    """dhash_neardup_pairs (registered r14, multi-probe r15, hash
    frame persist()ed r17): the decoded hash frame is CACHED so the
    Arrow-batched MapInPandas decode materializes ONCE and feeds both
    join sides as InMemoryTableScan (the r16 ngram persist precedent —
    a localCheckpoint here, even lazy, fires the AQE shuffle stages at
    plan build); the pair join is a keyed (band_idx, band_val)
    equi-join over the 16-bit multi-probe emission (the one-bit flip
    masks up to 32768 must appear) — no cartesian, no BNLJ, no
    row-at-a-time Python."""
    plan = _plan(spark, "dhash_neardup_pairs")
    assert plan.count("InMemoryTableScan") >= 2  # cached decode, both sides
    assert "32768" in plan  # the 16-bit multi-probe flip-mask array
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_decode_stages_are_arrow_batched(spark):
    """ADVICE r15: the registered dhash/audio plans hide the decode
    behind the lazy checkpoint's ExistingRDD scan, so the registered
    shape test above can no longer see it — pin the Arrow-batching
    contract on the PRE-checkpoint decode DataFrames themselves:
    decode_image_dhash and decode_audio_fingerprint must plan exactly
    one MapInPandas stage and never a row-at-a-time BatchEvalPython."""
    from datapipeline_spike_spark.sources.multimodal import (
        audio_family_media_from_documents,
        decode_audio_fingerprint,
        decode_image_dhash,
        image_family_media_from_documents,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    for decoded in (
        decode_image_dhash(image_family_media_from_documents(docs)),
        decode_audio_fingerprint(audio_family_media_from_documents(docs)),
    ):
        plan = decoded._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") >= 1, plan
        assert "BatchEvalPython" not in plan, plan


def test_dhash_neardup_pairs_matches_brute_force_popcount(spark):
    """On hashes planted at every Hamming distance 0..8, the multi-probe
    band join of dhash_neardup_pairs(max_hamming=7) must return exactly
    the pairs a brute-force XOR-popcount over all pairs keeps — if the
    band layout or probe emission loses recall, the sets diverge."""
    from datapipeline_spike_spark.operators.dedup import dhash_neardup_pairs

    base = 0x5A5A_A5A5
    rows = [(0, (base >> 32) & 0xFFFFFFFF, base & 0xFFFFFFFF)]
    # id d differs from id 0 in exactly d bits, spread across both
    # words and all four 16-bit bands (bit positions 63-d*7 step 7:
    # 63, 56, 49, ... hit every band)
    for d in range(1, 9):
        v = base
        for j in range(d):
            v ^= 1 << (63 - j * 7)
        rows.append((d, (v >> 32) & 0xFFFFFFFF, v & 0xFFFFFFFF))
    h = spark.createDataFrame(
        rows, "media_id long, dhash_w0 long, dhash_w1 long"
    )

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dhash_neardup_pairs(h, max_hamming=7).collect()
    }

    def popcount(x: int) -> int:
        return bin(x).count("1")

    brute = set()
    for a, a0, a1 in rows:
        for b, b0, b1 in rows:
            ham = popcount(a0 ^ b0) + popcount(a1 ^ b1)
            if a < b and ham <= 7:
                brute.add((a, b, ham))
    assert got == brute
    # the plant is non-trivial: pairs exist at hamming 7 (kept) and
    # the hamming-8 pair (0, 8) is excluded
    assert any(ham == 7 for _, _, ham in got)
    assert not any({a, b} == {0, 8} for a, b, _ in got)


def test_packing_window_runs_on_bucket_grain(spark):
    """sequence_packing_plan (registered r14): the unpartitioned
    cumulative window is the phase-2 bucket-base sweep — it must sit
    ABOVE the bucket-grain aggregate (<= 256 rows), never directly over
    the corpus rows; the row-grain offset is a partitioned join-back,
    not a global running sum."""
    import re as _re

    plan = _plan(spark, "sequence_packing_plan")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan
    unpart = []
    for line in plan.splitlines():
        s = line.lstrip(" +-:|*(0123456789)")
        if not s.startswith("Window "):
            continue
        groups = _re.findall(r"\[[^\]]*\]", s)
        if len(groups) < 3:  # 2 bracket groups = no partition spec
            unpart.append(s)
    # exactly one unpartitioned window — and it sums the BUCKET total
    # (_btot, the <=256-row aggregate output), never the row-grain
    # token column (the corpus-wide running sum this operator exists
    # to avoid)
    assert len(unpart) == 1, plan
    assert "_btot" in unpart[0], unpart[0]
    assert "_tk" not in unpart[0], unpart[0]


def test_doremi_stays_single_row_projection_chain(spark):
    """doremi_domain_weights (registered r14): after the domain-grain
    aggregate the whole iteration is column projections over ONE row —
    no joins, no windows, no Python stage anywhere."""
    plan = _plan(spark, "doremi_domain_weights")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "CartesianProduct", "SortMergeJoin", "Window"):
        assert node not in plan, node


def test_watermark_is_map_only(spark):
    """watermark_greenlist_score (registered r14): one tokenize + one
    HOF fold per row — no exchange except the scan-side fan_out
    round-robin, no joins, no windows, no Python."""
    plan = _plan(spark, "watermark_greenlist_score")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert node not in plan, node


def test_rank_normalize_windows_are_partitioned(spark):
    """quality_rank_normalize (registered r14): the cumulative sweep
    runs on the (source, bucket) histogram partitioned by source —
    NO unpartitioned window (the audit rule), no cartesian."""
    import re as _re

    plan = _plan(spark, "quality_rank_normalize")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        s = line.lstrip(" +-:|*(0123456789)")
        if not s.startswith("Window "):
            continue
        # partitioned windows print 3 bracket groups; the 2-group form
        # is the unpartitioned scale-killer
        groups = _re.findall(r"\[[^\]]*\]", s)
        assert len(groups) >= 3, s


def test_pagerank_registered_shape(spark):
    """pagerank_host_authority (registered r16): the DISTINCT edge
    frame must be persist()ed and read as InMemoryTableScan (one
    corpus scan feeds the degree assembly and every iteration), the
    intermediate iterations must be barriered as checkpointed
    ExistingRDD scans (the 3^k recompute guard), and the usual bans
    hold — no cartesian, no Python, no windows (the argmax-free
    damped update is pure joins + aggregates)."""
    plan = _plan(spark, "pagerank_host_authority")
    assert "InMemoryTableScan" in plan  # the persisted edge frame
    assert "ExistingRDD" in plan        # the per-iteration barriers
    for node in ("CartesianProduct", "BatchEvalPython",
                 "ArrowEvalPython", "MapInPandas", "Window"):
        assert node not in plan, node


def test_lsh_verify_family_shingles_once(spark):
    """r19 optimization pin: every MinHash-LSH verify-family query
    materializes ONE shingle frame (eager localCheckpoint ->
    ExistingRDD scans) and derives signatures/bands from it. The
    regression tell is a tokenize regex-split expression rendered in
    the FINAL plan — it means a consumer grew its own shingle pipeline
    back (the pre-r19 shape ran it 2-3x per query: 16 renderings in
    prefix_filter's before-plan, plans/r19/*_before.txt)."""
    for name in (
        "ngram_jaccard_pairs",
        "prefix_filter_jaccard_join",
        "minhash_jaccard_estimate",
        "fuzzy_contamination",
    ):
        plan = _plan(spark, name)
        assert "split(lower" not in plan, f"{name} re-grew a tokenize pipeline"
        assert "ExistingRDD" in plan, f"{name} lost its materialized shingle frame"
        # the union-size identity: no per-pair union array either
        assert "array_union" not in plan, f"{name} re-grew array_union"


def test_kneser_ney_counts_materialize_once(spark):
    """r19 optimization pin: the bigram count frames are checkpointed;
    the final plan reads ExistingRDD scans and renders no tokenize
    split (the before-plan rendered it 10x across consumers)."""
    plan = _plan(spark, "kneser_ney_bigram_score")
    assert "split(lower" not in plan
    assert "ExistingRDD" in plan

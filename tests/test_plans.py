"""Physical-plan shape assertions (the 100 TB posture, SURVEY §4).

Correctness tests prove the right ROWS come back; these prove the right
PLANS produce them — pushdown reaching the parquet scan, small sides
broadcast, partition pruning on slot predicates, no Python UDF in hot
paths.  A regression here is a silent 100× at scale even though every
oracle still matches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bench import HEADLINE
from cardano_analytics_duckdb_spark.lake.fixtures import ensure_fixture_lake
from cardano_analytics_duckdb_spark.lake.tables import (
    TESTDATA_TABLES,
    load_plain_table,
    load_table,
    unwarm_lake,
    warm_lake,
    warm_view_name,
)
from cardano_analytics_duckdb_spark.operators import all_queries

from .conftest import SF_CORRECT, SF_SMOKE
from .probes import Py4jCalls, cache_entries, session_state


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400_000
    ).select("o_orderkey")
    plan = _plan(df)
    # the comparison itself must reach the scan; the inferred IsNotNull
    # companion only appears when constraintPropagation is on (the
    # production session ships it off — semantics-free either way)
    assert "GreaterThan(o_totalprice" in plan.split("PushedFilters:")[1]


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema must carry only the projected columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read and "l_comment" not in read


def test_small_dims_broadcast_in_revenue_query(spark, sf_dir):
    from cardano_analytics_duckdb_spark.operators.relational import (
        revenue_by_region,
    )

    plan = _plan(revenue_by_region(spark, sf_dir))
    # customer is hash-joined with customer as the build side — NOT
    # force-broadcast (it grows with the lake; r10 verdict #3).  AQE still
    # converts the exchange to a broadcast at runtime when the side is
    # under the threshold, so small lakes keep the broadcast plan without
    # the forced hint's 1000x OOM cliff.  nation⋈region is folded into a
    # literal nationkey→region map (one 25-entry lookup, zero extra
    # broadcast builds); no sort-merge anywhere (a one-shot PK-FK join
    # feeding a hash aggregate never benefits from sorted output).
    assert "ShuffledHashJoin" in plan and "BuildRight" in plan
    assert "SortMergeJoin" not in plan


def test_flagship_broadcasts_token_side(spark, sf_dir):
    from cardano_analytics_duckdb_spark.operators.cardano import (
        cardano_token_transfers,
    )

    plan = _plan(cardano_token_transfers(spark, sf_dir))
    # the filtered token-UTxO side is tiny → explode-join and semi-join
    # must be broadcast, not shuffled
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan


def test_flagship_broadcast_is_size_gated(spark, sf_dir, monkeypatch):
    """r11 verdict #2: the token UTxOs scale with token popularity x chain
    history — over the row gate every one of the three join sites must
    fall back to shuffle_hash (no forced BroadcastExchange of a
    lake-derived frame), and the result is row-identical."""
    from cardano_analytics_duckdb_spark.operators import cardano as mod

    small = mod._token_transfers(spark, None, None)
    rows = small.collect()
    monkeypatch.setattr(mod, "_FLAGSHIP_BROADCAST_ROW_GATE", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable AQE's runtime broadcast conversion too, so the assertion is
    # about the GATE, not about the fixture being tiny
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = mod._token_transfers(spark, None, None)
        plan = _plan(gated)
        assert "BroadcastHashJoin" not in plan
        assert "ShuffledHashJoin" in plan
        # row-identical as a multiset: with the r13 sort-drop the collect
        # order is partition order, which legitimately differs between
        # the broadcast and shuffle_hash plans
        assert sorted(tuple(r) for r in gated.collect()) == sorted(
            tuple(r) for r in rows
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_slot_predicate_prunes_partitions(spark, sf_dir):
    root = ensure_fixture_lake(spark)
    tx = spark.read.parquet(f"{root}/tx")
    pruned = tx.filter(F.col("slot_group") == 0)
    executed = _plan(pruned)
    # partition filter must appear as such, not as a post-scan filter
    # (with constraintPropagation off there is no inferred isnotnull —
    # the equality itself is the pruning predicate)
    pf = executed.split("PartitionFilters:")[1].split("]")[0]
    assert "slot_group" in pf and "= 0" in pf
    n_all = tx.select("slot_group").distinct().count()
    assert n_all >= 2  # fixture spans multiple groups, so pruning is real


def test_topk_plans_take_ordered(spark, sf_dir):
    from cardano_analytics_duckdb_spark.operators.cardano import (
        cardano_high_fee_txs,
    )

    plan = _plan(cardano_high_fee_txs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # true top-k, no global sort


def test_no_python_udf_in_relational_hot_paths(spark, sf_dir):
    from cardano_analytics_duckdb_spark.operators import all_queries

    qs = all_queries()
    # every relational / window / cardano-parity query must stay JVM-side;
    # Python appears only where declared (pandas-UDF kernels: similarity
    # kernels, multimodal decode, stateful streaming)
    jvm_only = [
        "pricing_summary",
        "revenue_by_region",
        "cross_nation_orders",
        "order_brand_sets",
        "top_orders_per_customer",
        "user_sessions",
        "cardano_high_fee_txs",
        "cardano_token_transfers",
        "minhash_band_buckets",
        "simhash_fingerprints",
        "ngram_jaccard_pairs",
        "events_asof_purchase",
        "events_within_minute_pairs",
    ]
    for name in jvm_only:
        plan = _plan(qs[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen (row UDF)"
        assert "ArrowEvalPython" not in plan, f"{name} gained a pandas UDF"
        assert "FlatMapGroupsInPandas" not in plan, f"{name} gained applyInPandas"


def test_cosine_topk_is_joinless_single_pass(spark, sf_dir):
    """The query vector is folded into the plan as a literal array (r10):
    no join of any kind, no second embeddings scan, and ranking stays a
    true top-k.  Regression guard for the broadcast-build job the old
    filter-vec_id-0 → crossJoin shape paid on every execution."""
    from cardano_analytics_duckdb_spark.operators.similarity import cosine_topk

    plan = _plan(cosine_topk(spark, sf_dir))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_minhash_buckets_have_no_range_sampler(spark, sf_dir):
    """The bucket shuffle must be a HASH exchange (r10): a range exchange's
    RangePartitioner sampler re-runs the whole shingle→hash→min signature
    lineage a second time before the real shuffle (measured 2x compute,
    0.47 s -> 0.26 s at sf0.1).  Partition-local sort only — a doc-count-
    sized report never needs a total order at 100 TB."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        minhash_band_buckets,
    )

    plan = _plan(minhash_band_buckets(spark, sf_dir))
    assert "hashpartitioning(band" in plan
    assert "rangepartitioning" not in plan


def test_asof_join_is_single_shuffle(spark, sf_dir):
    from cardano_analytics_duckdb_spark.operators.temporal import (
        events_asof_purchase,
    )

    plan = _plan(events_asof_purchase(spark, sf_dir))
    # union → ONE hash-partition exchange on user_id for the window, plus the
    # final presentation sort; no join node at all
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_bucket_lake_reroutes_queries_shuffle_free(spark, sf_dir):
    """Bucketed lake layouts (r11): declaring and building bucketed
    copies makes UNCHANGED query code read them through load_table — the
    join's exchanges disappear from the physical plan and the result is
    row-identical; drop_layout restores the plain scan."""
    from cardano_analytics_duckdb_spark.lake import layout
    from cardano_analytics_duckdb_spark.operators.relational import (
        late_ship_priority_counts,
    )

    plain_plan = _plan(late_ship_priority_counts(spark, sf_dir))
    plain_rows = sorted(
        map(tuple, late_ship_priority_counts(spark, sf_dir).collect())
    )
    # plain layout: the fact-fact join shuffles at least one side
    assert "Exchange hashpartitioning(l_orderkey" in plain_plan

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        layout.set_bucket_spec(
            spark,
            sf_dir,
            {"lineitem": [["l_orderkey"]], "orders": [["o_orderkey"]]},
            n_buckets=4,
        )
        layout.bucketize(spark, sf_dir)
        plan = _plan(late_ship_priority_counts(spark, sf_dir))
        # both join inputs arrive pre-distributed: no exchange below the
        # join (the aggregate's exchange above it is legitimate)
        join_op = (
            "ShuffledHashJoin" if "ShuffledHashJoin" in plan else "SortMergeJoin"
        )
        below_join = plan.split(join_op, 1)[1]
        assert "Exchange" not in below_join, "bucketed inputs still shuffle"
        rows = sorted(
            map(tuple, late_ship_priority_counts(spark, sf_dir).collect())
        )
        assert rows == plain_rows
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        layout.drop_layout(spark, sf_dir)
    assert "Exchange hashpartitioning(l_orderkey" in _plan(
        late_ship_priority_counts(spark, sf_dir)
    )


def test_analytic_shapes_broadcast_and_probe(spark, sf_dir):
    """Batch-3/4 decision-support plans keep their scale posture: scalar
    subqueries broadcast, EXISTS compiles to semi/anti probes, the
    disjunctive join stays a single hash join on the equi-conjunct."""
    from cardano_analytics_duckdb_spark.operators.analytic import (
        disjunctive_brand_revenue,
        returned_without_accepted_orders,
        rich_inactive_customers,
        top_revenue_suppliers,
    )

    plan = _plan(top_revenue_suppliers(spark, sf_dir))
    # the 1-row max side and the supplier dim both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan

    plan = _plan(rich_inactive_customers(spark, sf_dir))
    # avg threshold: broadcast nested-loop of a 1-row side; orders: anti probe
    assert "LeftAnti" in plan

    plan = _plan(returned_without_accepted_orders(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan

    plan = _plan(disjunctive_brand_revenue(spark, sf_dir))
    # ONE join on p_partkey; the OR residual must not degrade it to a
    # nested-loop cross product
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_flagship_is_one_uncached_plan(spark, sf_dir):
    """The flagship is one plan with nothing staged: no InMemoryRelation
    (no cache() or persist() to leak or to fill), no range exchange (the
    final sort is PARTITION-LOCAL, global=false: no sampler job), and
    both address sets built by ONE hash exchange on tx_id.  Under the
    row gate the semi-join and the joins broadcast."""
    from cardano_analytics_duckdb_spark.operators.cardano import (
        _token_transfers,
    )

    import re

    plan = _plan(_token_transfers(spark, None, None))
    assert "InMemoryRelation" not in plan
    assert "rangepartitioning" not in plan
    assert re.search(r"Sort \[slot[^\]]*\], false, 0", plan), plan[:200]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan


def test_not_in_is_null_aware_anti_join(spark, sf_dir):
    """NOT IN (subquery) must compile to a single broadcast null-aware
    anti probe — `LeftAnti, BuildRight, true` (the trailing flag is
    BroadcastHashJoinExec.isNullAwareAntiJoin) — never a per-row subquery
    re-execution or a nested-loop/cartesian fallback.  Semantics are
    pinned by the oracle hash (see not_in_null_semantics); this pins the
    plan."""
    from cardano_analytics_duckdb_spark.operators.analytic import (
        distinct_supplier_part_counts,
        not_in_null_semantics,
    )

    plan = _plan(distinct_supplier_part_counts(spark, sf_dir))
    assert "LeftAnti, BuildRight, true" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(not_in_null_semantics(spark, sf_dir))
    # both branches: outer-null probe and null-poisoned build side
    assert plan.count("LeftAnti, BuildRight, true") == 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_new_tpch_shape_plans(spark, sf_dir):
    """Plan shapes for the r10 decision-support additions (Q6/Q9/Q11/Q20
    adaptations): pushed-down scans, broadcast dimensions, and the
    single-fact-shuffle decorrelations their docstrings promise."""
    from cardano_analytics_duckdb_spark.operators.analytic import (
        excess_volume_suppliers,
        significant_parts_value,
    )
    from cardano_analytics_duckdb_spark.operators.relational import (
        forecast_revenue_change,
        nation_part_profit,
    )

    # Q6: every predicate reaches the parquet reader (the date-cast bounds
    # simplify to pushable timestamp bounds); no join of any kind.
    # (executedPlan truncates the PushedFilters list, so assert on the
    # first pushed bound only; the full list is visible in formatted mode)
    plan = _plan(forecast_revenue_change(spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "Join" not in plan

    # Q9: the LIKE-filtered part probe and the supplier/nation lookups are
    # broadcast; the LIKE itself is pushed to the part scan.
    plan = _plan(nation_part_profit(spark, sf_dir))
    assert "StringContains(p_name,red)" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan

    # Q11: the per-part aggregate feeds both the 1-row total (broadcast
    # nested-loop cross, the scalar-threshold idiom) and the probe side
    # through ONE exchange — lineitem must not be scanned twice.
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(significant_parts_value(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row threshold cross
    assert "ReusedExchange" in plan  # pv computed once
    assert "CartesianProduct" not in plan

    # Q20: decorrelated to one fact shuffle — the (part, supplier) group-by
    # and the per-part window both ride the explicit l_partkey repartition;
    # no self-join of the aggregated set.
    plan = _plan(excess_volume_suppliers(spark, sf_dir))
    assert "Window" in plan
    assert "SortMergeJoin" not in plan
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_full_outer_and_cube_shapes(spark, sf_dir):
    """nation_balance_coverage must plan a true FullOuter join (the one
    join type nothing else exercises); returnflag_status_cube must expand
    all four grouping combinations from ONE scan (Expand, single
    FileScan), like the other grouping queries."""
    from cardano_analytics_duckdb_spark.operators.relational import (
        nation_balance_coverage,
        returnflag_status_cube,
    )

    plan = _plan(nation_balance_coverage(spark, sf_dir))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(returnflag_status_cube(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_grouping_sets_single_scan(spark, sf_dir):
    """GROUPING SETS compiles to one scan + Expand, not one scan per set."""
    from cardano_analytics_duckdb_spark.operators.analytic import (
        revenue_grouping_sets,
    )

    plan = _plan(revenue_grouping_sets(spark, sf_dir))
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1


def test_regex_features_pushdown_and_codegen(spark, sf_dir):
    from cardano_analytics_duckdb_spark.operators.textops import (
        doc_regex_features,
    )

    plan = _plan(doc_regex_features(spark, sf_dir))
    assert "LessThan(doc_id" in plan.split("PushedFilters:")[1]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gapfill_grid_is_distributed(spark, sf_dir):
    """The time grid comes from sequence()+explode (Generate), not a
    driver-side calendar; counts attach via a keyed join."""
    from cardano_analytics_duckdb_spark.operators.temporal import (
        user_hourly_gapfill,
    )

    plan = _plan(user_hourly_gapfill(spark, sf_dir))
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_deterministic_sample_predicate_stays_in_scan_stage(spark, sf_dir):
    """Sampling is a pure scan predicate — no exchange before the partial
    aggregate, so membership never costs a shuffle."""
    from cardano_analytics_duckdb_spark.operators.analytic import (
        stratified_order_sample,
    )

    df = stratified_order_sample(spark, sf_dir)
    plan = _plan(df)
    # exactly the aggregate exchange (+ the presentation sort's): the filter
    # itself adds none
    assert plan.count("Exchange") <= 2
    assert "rand" not in plan.lower().replace("operand", "")


def test_allpairs_kernel_guard_fails_fast_on_unbounded_input(spark, sf_dir):
    """The single-group all-pairs cosine kernel is a bounded oracle baseline;
    past 10k rows per group it must raise instead of silently running an
    O(n^2) single-task computation."""
    import pandas as pd
    import pytest

    from cardano_analytics_duckdb_spark.operators.similarity import (
        _allpairs_cosine_kernel,
    )

    kernel = _allpairs_cosine_kernel()
    big = pd.DataFrame(
        {
            "g": ["all"] * 10_001,
            "vec_id": range(10_001),
            "embedding": [[0.0, 1.0]] * 10_001,
        }
    )
    with pytest.raises(ValueError, match="cap 10000"):
        kernel(big)


def test_levenshtein_blocking_uses_composite_canopy(spark, sf_dir):
    """Fuzzy matching must block on (brand, length band), not brand alone:
    the join keys must include the banding column and the probe side must
    Generate (explode) the band duplication."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        part_name_levenshtein_pairs,
    )

    df = part_name_levenshtein_pairs(spark, sf_dir)
    plan = _plan(df)
    assert "len_band" in plan
    assert "Generate explode" in plan
    # levenshtein must run AFTER the banded equi-join, as a post-join filter,
    # never as part of a cartesian/broadcast-nested-loop candidate join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_join_phase1_is_narrow(spark, sf_dir):
    """knn_join_topk's phase 1 (r13: the batch-matmul kernel straight
    over the corpus scan — the query matrix folds into the kernel, so
    there is no broadcast and no crossJoin at all) must not shuffle:
    NO Exchange of any kind below the kernel.  The per-query rank
    shuffles only the P*Q*k survivors above it."""
    from cardano_analytics_duckdb_spark.operators.similarity import (
        knn_join_topk,
    )

    plan = _plan(knn_join_topk(spark, sf_dir))
    head, _, tail = plan.partition("MapInPandas")
    assert tail, "expected a MapInPandas batch-matmul stage"
    # below the kernel (printed after it): narrow scan, zero exchanges
    assert "Exchange" not in tail and "Join" not in tail
    # above it: exactly the per-query rank shuffle over the survivors
    assert "Window" in head


def test_contamination_probe_is_broadcast(spark, sf_dir):
    """The held-out shingle set must broadcast; the corpus side must never
    be shuffled before the join (the only shuffle is the per-doc count)."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        benchmark_contamination,
    )

    plan = _plan(benchmark_contamination(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_pipeline_single_fullrow_shuffle(spark, sf_dir):
    """curated_corpus_sample: quality filter and sample predicate must fold
    into the pre-shuffle stage; the md5-fingerprint window is the only
    exchange of full rows (plus the tiny post-agg sort)."""
    from cardano_analytics_duckdb_spark.operators.textops import (
        curated_corpus_sample,
    )

    df = curated_corpus_sample(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2  # window + groupBy
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_arrow_kernels_are_shuffle_free(spark, sf_dir):
    """gopher_quality_flags and pii_redaction_stats (r13): both Arrow
    ``mapInPandas`` kernels are narrow — scan -> kernel -> project, ZERO
    exchanges.  The r12 shapes carried a leading ``repartitionByRange``
    (a range shuffle plus its sampling pass) that the equal-cache A/B
    measured at ~2x the whole query (SCALE_PROBE r13_text_ab: pii 1.331
    -> 0.713 s, gopher 1.607 -> 0.887 s at 100x)."""
    from cardano_analytics_duckdb_spark.operators.textops import (
        gopher_quality_flags,
        pii_redaction_stats,
    )

    for fn in (gopher_quality_flags, pii_redaction_stats):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{fn.__name__}:\n{plan}"
        assert "MapInPandas" in plan


def test_event_window_aggs_shuffle_partials_not_raw_rows(spark, sf_dir):
    """events_tumbling_5min and events_sliding_10min (r13): aggregate
    FIRST — the only full-row exchange is the hash agg's partial-row
    exchange; no range shuffle of raw (or exploded) rows may precede
    the aggregation.  The old sliding shape moved every exploded row
    (2x raw) through a range exchange to serve the final order —
    measured 3.1x slower (SCALE_PROBE r13_events_ab)."""
    from cardano_analytics_duckdb_spark.operators.windows import (
        events_sliding_10min,
        events_tumbling_5min,
    )

    for fn in (events_tumbling_5min, events_sliding_10min):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, fn.__name__
        # exactly one keyed exchange: the agg's partial->final boundary
        assert plan.count("Exchange hashpartitioning") == 1, fn.__name__


def test_collected_dim_fails_fast_on_fact_tables(spark, sf_dir):
    """The tiny-dimension snapshot helper must raise, not silently collect,
    when pointed at a domain larger than its cap (the same fail-fast
    posture as the all-pairs kernel guard)."""
    import pytest

    from cardano_analytics_duckdb_spark.operators.relational import (
        _collected_dim,
    )

    with pytest.raises(ValueError, match="distinct domain exceeds"):
        _collected_dim(spark, sf_dir, "orders", ("o_orderkey",))


def test_collected_dim_refreshes_on_rewrite(spark, tmp_path):
    """The dim-snapshot cache keys on a LakeFs content signature (r10
    advice: object-store safe, unlike an os.path.getmtime key): an
    in-process rewrite of the dimension serves a FRESH domain, not the
    cached one."""
    from cardano_analytics_duckdb_spark.operators.relational import (
        _collected_dim,
    )

    lake = str(tmp_path / "dimlake")
    path = f"{lake}/region.parquet"
    spark.createDataFrame(
        [(0, "AFRICA")], "r_regionkey long, r_name string"
    ).write.parquet(path)
    assert dict(_collected_dim(spark, lake, "region", ("r_regionkey", "r_name"))) == {
        0: "AFRICA"
    }
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey long, r_name string"
    ).write.mode("overwrite").parquet(path)
    assert dict(
        _collected_dim(spark, lake, "region", ("r_regionkey", "r_name"))
    ) == {0: "EUROPE", 1: "ASIA"}


def test_repetition_scores_hash_single_shuffle_no_sampler(spark, sf_dir):
    """repetition_scores (r13 ``hash`` shape): ONE hash exchange on
    doc_id serves both aggregate levels — no range exchange anywhere
    (the range sampler re-ran the gram explode), and no second keyed
    exchange (the agg-first shape, measured-rejected at 100x: near-
    unique per-task group keys fold ~nothing map-side)."""
    from cardano_analytics_duckdb_spark.operators.mixing import (
        repetition_scores,
    )

    plan = _plan(repetition_scores(spark, sf_dir))
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") == 4  # partial+final at each level


def test_sortdrop_family_shuffle_free(spark, sf_dir):
    """r13 sort-drop: narrow pipelines whose final global ORDER BY was
    dropped must now plan with ZERO exchanges (the oracle canonicalizes
    row order; the old range sampler re-executed the kernels/HOFs)."""
    from cardano_analytics_duckdb_spark.operators.multimodal import (
        audio_waveform_features,
        frame_sample_features,
        image_decode_features,
        image_resize_features,
        payload_metadata,
    )
    from cardano_analytics_duckdb_spark.operators.similarity import (
        lsh_bucket_assignments,
    )
    from cardano_analytics_duckdb_spark.operators.textops import (
        alpha_token_stats,
        bpe_token_counts,
        doc_chunks,
        rolling_fingerprints,
    )

    for fn in (
        payload_metadata,
        image_decode_features,
        image_resize_features,
        frame_sample_features,
        audio_waveform_features,
        alpha_token_stats,
        bpe_token_counts,
        rolling_fingerprints,
        doc_chunks,
        lsh_bucket_assignments,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{fn.__name__} regained a shuffle"
        assert "InMemoryTableScan" not in plan, (
            f"{fn.__name__} caches on the query path"
        )


def test_dedup_cluster_finals_no_range_exchange(spark, sf_dir):
    """r13 sort-drop, cluster-family sweep: the doc_id<300-bounded
    near-dup family's report-shaped finals use small_sorted (coalesce(1)
    + local sort) — same global order, no range exchange, no sampler
    job."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        cross_source_dup_leakage,
        near_dup_doc_clusters,
        near_dup_survivors,
        ngram_jaccard_pairs,
    )

    for fn in (
        ngram_jaccard_pairs,
        near_dup_doc_clusters,
        near_dup_survivors,
        cross_source_dup_leakage,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, f"{fn.__name__}"
        assert "Coalesce 1" in plan, f"{fn.__name__} lost small_sorted"


def test_window_sortdrop_single_exchange(spark, sf_dir):
    """r13: window queries keep exactly ONE exchange (the window's own
    hash clustering) — no trailing range exchange for a global order."""
    from cardano_analytics_duckdb_spark.operators.windows import (
        top_orders_per_customer,
        user_event_gaps,
        user_running_value,
        user_sessions,
    )

    for fn in (
        user_running_value,
        user_event_gaps,
        user_sessions,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, f"{fn.__name__}"
        assert plan.count("Exchange") == 1, f"{fn.__name__} exchange count"
    # top_orders keeps the EXPLICIT range pre-shuffle: the implicit-hash
    # alternative measured 0.87x on the quiet host (r13_sortdrop2_ab —
    # ENSURE_REQUIREMENTS exchanges are AQE-coalescible and the small
    # orders shuffle loses window parallelism); still exactly one
    # exchange, user-pinned so AQE cannot shrink it.
    plan = _plan(top_orders_per_customer(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Exchange rangepartitioning" in plan


def test_bitset_aggs_shuffle_partials(spark, sf_dir):
    """r13 agg-first: the bitset set-aggs (order_brand_sets,
    cross_nation_orders) must shuffle PARTIAL aggregates, never raw
    join/union rows — a HashAggregate appears below the first exchange —
    and no range exchange (whose sampler re-ran the broadcast joins)."""
    from cardano_analytics_duckdb_spark.operators.relational import (
        cross_nation_orders,
        order_brand_sets,
    )

    for fn in (order_brand_sets, cross_nation_orders):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, f"{fn.__name__}"
        assert plan.count("Exchange hashpartitioning") == 1, f"{fn.__name__}"
        # partial + final: the partial agg sits BELOW the exchange, so
        # only (orderkey, mask) partials cross the wire
        assert plan.count("HashAggregate") >= 2, f"{fn.__name__}"
        assert "HashAggregate" in plan[
            plan.find("Exchange hashpartitioning"):
        ], f"{fn.__name__} shuffles raw rows"


def test_sortdrop3_family_no_range_exchange(spark, sf_dir):
    """r13 sort-drop sweep 3 (residual finals): the trailing global
    ORDER BY is gone from every member — no rangepartitioning exchange,
    no boundary sampler.  priority_order_union and the levenshtein band
    join are broadcast/narrow upstream, so they must plan with zero
    data exchanges outright."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        corpus_keep_decisions,
        duplicated_ngram_coverage,
        part_name_levenshtein_pairs,
    )
    from cardano_analytics_duckdb_spark.operators.multimodal import (
        image_phash_near_dup_pairs,
    )
    from cardano_analytics_duckdb_spark.operators.relational import (
        priority_order_union,
    )

    for fn in (priority_order_union, part_name_levenshtein_pairs):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, f"{fn.__name__}"
        assert "Exchange hashpartitioning" not in plan, f"{fn.__name__}"
    # these keep their algorithmic keyed exchanges (gram agg, md5
    # window, pair-dedup distinct) — only the trailing range is gone
    for fn in (
        duplicated_ngram_coverage,
        corpus_keep_decisions,
        image_phash_near_dup_pairs,
    ):
        plan = _plan(fn(spark, sf_dir))
        assert "Exchange rangepartitioning" not in plan, f"{fn.__name__}"


def test_semantic_dedup_is_bucketed_not_pairwise(spark, sf_dir):
    """semantic_dedup_pairs: candidates come from an equi-join on the band
    bucket key (never a cartesian pairwise scan), and embedding
    verification joins by id."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        semantic_dedup_pairs,
    )

    plan = _plan(semantic_dedup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_split_is_narrow_map_plus_agg(spark, sf_dir):
    """stratified_split_counts: the split assignment is a pure projection —
    exactly one aggregate exchange, no joins, no windows."""
    from cardano_analytics_duckdb_spark.operators.mixing import (
        stratified_split_counts,
    )

    plan = _plan(stratified_split_counts(spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "Window" not in plan


def test_source_mix_window_runs_post_aggregation(spark, sf_dir):
    """source_mix_weights: the corpus-totals window must sit ABOVE the
    per-source aggregate (operating on one row per source), never on the
    raw documents."""
    from cardano_analytics_duckdb_spark.operators.mixing import (
        source_mix_weights,
    )

    plan = _plan(source_mix_weights(spark, sf_dir))
    # window over already-aggregated rows: the Window's child subtree must
    # contain the HashAggregate, i.e. Window appears before (above) it
    assert plan.index("Window") < plan.index("HashAggregate")


def test_phash_near_dup_is_banded_equi_join(spark, sf_dir):
    """image_phash_near_dup_pairs: candidates come from an equi-join on
    (band, band key) — never a cartesian scan over images."""
    from cardano_analytics_duckdb_spark.operators.multimodal import (
        image_phash_near_dup_pairs,
    )

    plan = _plan(image_phash_near_dup_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_candidates_reuse_signature_exchange(spark, sf_dir):
    """The canonical-signature collapse references the signature lineage
    from several branches (band self-join sides, membership map); the
    physical plan must compute the heavy shingle/signature exchange ONCE
    and reuse it, or the guard would multiply the dominant stage."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        semantic_dedup_pairs,
    )

    # Under AQE the reuse decision is made at runtime (the pre-execution
    # adaptive plan shows plain exchanges); inspect the static physical
    # plan, where ReuseExchange rewrites identical subtrees at planning.
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(semantic_dedup_pairs(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert "ReusedExchange" in plan


def test_sq8_topk_plan_shape(spark, sf_dir):
    """SQ8 ANN must stay JVM-side end-to-end: stats + dequantized scan are
    codegen expressions, the 1-row stats/query frames broadcast, ranking is
    a true top-k.  No Python batch operator, no shuffled join anywhere."""
    from cardano_analytics_duckdb_spark.operators.similarity import sq8_topk

    plan = _plan(sq8_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats/query crosses


def test_span_coverage_plan_has_mapside_partial_agg(spark, sf_dir):
    """The gram-count aggregation must apply map-side partial aggregation
    (the duplicate mass collapses before the shuffle) and carry no Python
    operator — the shape that keeps span dedup linear at 100 TB."""
    from cardano_analytics_duckdb_spark.operators.dedup import (
        duplicated_ngram_coverage,
    )

    plan = _plan(duplicated_ngram_coverage(spark, sf_dir))
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_runtime_bloom_filter_injects_at_cluster_scan_sizes(spark, sf_dir):
    """Spark's runtime bloom-filter join reduction (on by default in our
    sessions) only arms when the application side scans >= 10 GB — so it
    is invisible at test SFs but active exactly where it matters, a
    selective filter against a 100 TB fact scan where even the FILTERED
    side is past the broadcast threshold (a broadcast-able build side
    rightly suppresses bloom — the broadcast join already prunes).  Pin
    the behavior by dropping the two size gates that encode "cluster
    scale": the fact side must gain a might_contain() filter fed by a
    bloom_filter_agg over the filtered build side."""
    import pyspark.sql.functions as F

    overrides = {
        # application side "scans >= 10 GB"
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # build side "too big to broadcast, small enough for a bloom"
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 500_000
        ).select("o_orderkey")
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )
        plan = _optimized(j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_slot_partitioned_lake(spark):
    """DPP: joining the slot_group-partitioned lake against a filtered
    dimension must prune tx partitions with a runtime subquery filter —
    the partition-count lever that makes dimension-filtered fact scans
    sublinear at 100 TB.  (reuseBroadcastOnly is on by default, so the
    pruning subquery rides the join's own broadcast — no double scan.)"""
    import pyspark.sql.functions as F

    root = ensure_fixture_lake(spark)
    tx = spark.read.parquet(f"{root}/tx")
    dim = spark.range(0, 10).select(
        (F.col("id") * 100).alias("slot_group"),
        (F.col("id") % 2 == 0).alias("keep"),
    )
    j = tx.join(dim.filter("keep"), "slot_group").select("tx_id")
    plan = _plan(j)
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "dynamicpruning" in pf
    assert "SubqueryAdaptiveBroadcast" in plan or "SubqueryBroadcast" in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """The production session keeps AQE on for exactly this: a hot join
    key that would pin one reducer at 100 TB gets split into advisory-
    sized sub-partitions at runtime.  Pinned with shrunk detection
    thresholds (the skew is structurally identical to a production one,
    just KB-sized); the final adaptive plan must mark the join skew=true
    with a skewed AQEShuffleRead.  The plan is read from the SAME
    QueryExecution that ran (a .write would execute a fresh copy and
    leave this one unexecuted)."""
    import pyspark.sql.functions as F

    overrides = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        left = (
            spark.range(0, 500_000)
            .select(F.lit(7).alias("k"), F.col("id").alias("v"))
            .union(
                spark.range(0, 100).select(
                    (F.col("id") % 10).alias("k"), F.col("id").alias("v")
                )
            )
        )
        right = spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        j = left.join(right, "k").select("v", "tag")
        j._jdf.queryExecution().toRdd().count()  # execute THIS plan, JVM-side
        plan = _plan(j)
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_registry_wide_plan_lint(spark, sf_dir):
    """Every registered query, one plan-lint pass: no CartesianProduct
    (an unconditioned big-big join is a silent N² at scale — deliberate
    1-row crosses compile to BroadcastNestedLoopJoin, not this) and no
    BatchEvalPython (row-at-a-time Python UDF; vectorized Arrow kernels
    are allowed).  Catches a regression in ANY query the moment it is
    registered, not just the ones with dedicated plan tests."""
    offenders = {}
    for name, fn in all_queries().items():
        plan = _plan(fn(spark, sf_dir))
        bad = [
            op
            for op in ("CartesianProduct", "BatchEvalPython")
            if op in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


@pytest.fixture
def warm_sf(spark, sf_dir):
    """``sf_dir`` with every table cached the way the benchmark's
    headline workload caches it; uncached again afterwards."""
    warm_lake(spark, sf_dir)
    yield sf_dir
    unwarm_lake(sf_dir)


# py4j round trips to build each headline query over a warmed lake (the
# second build: the first fills the per-lake dimension snapshots).  Each
# query is one SQL text, one parse and one analysis: 5 round trips, plus
# the content-signature check of each per-lake dimension snapshot
# (relational._collected_dim, similarity._query_vec).  As DataFrame chains
# the same queries took 25 to 139 round trips, about 1,000 in all.
_HEADLINE_PY4J_BUDGET = {
    "high_value_orders": 5,
    "order_summary_stats": 5,
    "pricing_summary": 5,
    "revenue_by_region": 21,
    "order_brand_sets": 13,
    "cross_nation_orders": 13,
    "top_orders_per_customer": 5,
    "user_sessions": 5,
    "events_tumbling_5min": 5,
    "exact_dedup_groups": 5,
    "minhash_band_buckets": 5,
    "simhash_fingerprints": 5,
    "cosine_topk": 13,
    "lsh_bucket_assignments": 5,
    "doc_quality_scores": 5,
}


def test_headline_construction_round_trips(spark, warm_sf):
    queries = all_queries()
    calls = {}
    for name in HEADLINE:
        queries[name](spark, warm_sf)
        with Py4jCalls() as probe:
            queries[name](spark, warm_sf)
        calls[name] = probe.n
    over = {n: c for n, c in calls.items() if c > _HEADLINE_PY4J_BUDGET[n]}
    assert not over, (over, calls)


def test_headline_queries_keep_the_warmed_cache(spark, warm_sf):
    """Over a warmed lake every headline query leaves the CacheManager as
    it found it, and every table it reads is still served from the cache
    after all of them ran.  ``spark.sql(text, name=df)`` over a warmed
    frame fails both: PySpark drops the temp view it registers for
    ``df``, and dropping a view uncaches its plan, so later reads of that
    table plan a file scan."""
    queries = all_queries()
    before = cache_entries(spark)
    for name in HEADLINE:
        queries[name](spark, warm_sf).write.format("noop").mode("overwrite").save()
        assert cache_entries(spark) == before, name
    for name in HEADLINE:
        plan = queries[name](spark, warm_sf)._jdf.queryExecution().sparkPlan()
        leaves = plan.collectLeaves()
        scans = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert scans == {"InMemoryTableScan"}, (name, scans)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_warm_lake_owns_its_views(spark, sf_dir):
    """``warm_lake`` registers one view per cached table, the headline
    queries read through them and leave the session as they found it,
    and ``unwarm_lake`` gives back the session as it was before."""
    queries = all_queries()
    before = session_state(spark)
    warm_lake(spark, sf_dir)
    try:
        views = {warm_view_name(sf_dir, t) for t in TESTDATA_TABLES}
        assert views <= _temp_views(spark)
        assert all(v.startswith("__graft_") for v in views)
        warmed = session_state(spark)
        for name in HEADLINE:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            assert session_state(spark) == warmed, name
    finally:
        unwarm_lake(sf_dir)
    assert session_state(spark) == before
    assert not {v for v in _temp_views(spark) if v.startswith("__graft_")}


def test_another_session_reads_a_warmed_lake_from_its_files(spark, sf_dir):
    """``warm_lake``'s views and cached frames live in the session that
    warmed the lake.  A query from another session of the same context,
    whether a ``lake_sql`` text or built on ``load_table``, reads the
    files (its rows unchanged, its frame of that session) and leaves the
    shared cache as it was."""
    queries = all_queries()
    names = ("order_summary_stats", "customers_without_orders")
    want = {n: _rows(queries[n](spark, sf_dir)) for n in names}
    other = spark.newSession()
    warm_lake(spark, sf_dir)
    try:
        cached = cache_entries(spark)
        for n in names:
            df = queries[n](other, sf_dir)
            assert df.sparkSession is other, n
            assert _rows(df) == want[n], n
        assert load_table(other, sf_dir, "lineitem").sparkSession is other
        assert cache_entries(spark) == cached
        assert _temp_views(other) == set()
    finally:
        unwarm_lake(sf_dir)


def test_caller_views_named_like_tables_change_no_headline_rows(spark, sf_dir):
    """A caller's own temp views named ``lineitem``, ``orders`` and so on,
    over other rows of the same tables, change no headline query's rows,
    over a plain or a warmed lake."""
    queries = all_queries()
    want = {n: _rows(queries[n](spark, sf_dir)) for n in HEADLINE}
    for t in TESTDATA_TABLES:
        load_plain_table(spark, sf_dir, t).limit(3).createOrReplaceTempView(t)
    try:
        for warm in (False, True):
            if warm:
                warm_lake(spark, sf_dir)
            try:
                got = {n: _rows(queries[n](spark, sf_dir)) for n in HEADLINE}
            finally:
                unwarm_lake(sf_dir)
            assert [n for n in HEADLINE if got[n] != want[n]] == [], warm
    finally:
        for t in TESTDATA_TABLES:
            spark.catalog.dropTempView(t)


def test_two_warmed_lakes_read_their_own_tables(spark, sf_dir):
    """Two lakes warmed in one session each serve their own tables: every
    headline query over either gives that lake's unwarmed rows."""
    lakes = (sf_dir, SF_CORRECT if sf_dir != SF_CORRECT else SF_SMOKE)
    queries = all_queries()
    want = {(d, n): _rows(queries[n](spark, d)) for d in lakes for n in HEADLINE}
    assert want[lakes[0], "order_summary_stats"] != want[lakes[1], "order_summary_stats"]
    for d in lakes:
        warm_lake(spark, d)
    try:
        got = {(d, n): _rows(queries[n](spark, d)) for d in lakes for n in HEADLINE}
    finally:
        for d in lakes:
            unwarm_lake(d)
    assert [k for k in want if got[k] != want[k]] == []


def test_plane_literals_read_as_their_doubles(spark):
    """``double_lit`` (under ``_plane_lit`` and the rounding texts)
    writes each double as an integer mantissa and an exponent
    (``805831E-6D``); Spark reads every one, whatever its
    ``repr``'s exponent and sign, as the same double."""
    from cardano_analytics_duckdb_spark.operators.similarity import (
        _PLANES,
        _plane_lit,
    )

    values = [1e-05, -0.5, 0.1, -1.2345e-07, 123456.789, 1.0, -3.0, 2.5e16, 0.0]
    # the rounding constants of ``rnd_expr``/``cent_sum_expr``
    rounding = [0.5, *(float(10**n) for n in range(7))]
    for vec in (values, rounding, *_PLANES):
        (row,) = spark.sql(f"SELECT {_plane_lit(vec)} AS v").collect()
        assert row.v == list(vec)

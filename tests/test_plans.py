"""Physical-plan assertions — the properties that keep these queries fast
at scale must survive refactors: pruned scans, pushed filters, broadcast
star joins, TakeOrderedAndProject top-k, whole-stage codegen."""

from __future__ import annotations

import pytest

from java_etl_bi_generator_spark.plans import (
    explain_formatted,
    explain_simple,
    plan_contains,
    scan_read_schemas,
)
from java_etl_bi_generator_spark.queries import registry


def test_projection_prunes_scan(spark, sf_dir):
    """Column pruning: only the projected 4 of lineitem's 11 columns reach ReadSchema."""
    df = registry()["q_project"](spark, sf_dir)
    schemas = scan_read_schemas(df)
    assert len(schemas) == 1
    # 4 of lineitem's 11 columns — nothing else reaches the scan
    assert schemas[0].count(":") == 4


def test_filter_is_pushed_to_scan(spark, sf_dir):
    """Both predicates reach the parquet scan as PushedFilters (EqualTo + GreaterThan)."""
    df = registry()["q_filter"](spark, sf_dir)
    plan = explain_formatted(df)
    assert "PushedFilters:" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan


def test_star_join_broadcasts_dims(spark, sf_dir):
    """All dimension sides broadcast; the fact table never shuffles for the star join."""
    df = registry()["q_star_flagship"](spark, sf_dir)
    plan = explain_simple(df)
    assert plan.count("BroadcastHashJoin") == 4  # orders/customer/nation/region
    assert "SortMergeJoin" not in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    """Top-k plans as TakeOrderedAndProject (per-partition heaps), not a global sort."""
    assert plan_contains(
        registry()["q_topk"](spark, sf_dir), "TakeOrderedAndProject"
    )


def test_groupby_has_partial_aggregation(spark, sf_dir):
    """Map-side partial aggregation before the exchange (partial_sum in the plan)."""
    plan = explain_simple(registry()["q_groupby_sum"](spark, sf_dir))
    # partial + final HashAggregate around one exchange: map-side combine
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_whole_stage_codegen_covers_scan_agg(spark, sf_dir):
    """Scan -> partial agg fused inside one WholeStageCodegen span."""
    from java_etl_bi_generator_spark.plans.plan_tools import _explain

    # codegen mode reports generated subtrees even under AQE's lazy plan
    plan = _explain(registry()["q_groupby_sum"](spark, sf_dir), "codegen")
    assert "WholeStageCodegen subtree" in plan


def test_tpch_q2_scans_lineitem_once(spark, sf_dir):
    """Q2's correlated min-cost subquery shares one lineitem/partsupp scan."""
    # The window-min decorrelation must not fall back to a groupBy +
    # join-back (which duplicates the candidate subtree: two lineitem
    # scans). One scan of the fact table, one Window, no SortMergeJoin.
    plan = explain_simple(registry()["q_tpch_q2"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q21_scans_lineitem_once(spark, sf_dir):
    """Q21's exists/not-exists pair collapses to one lineitem scan."""
    plan = explain_simple(registry()["q_tpch_q21"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_tpch_q17_single_fact_scan_with_broadcast(spark, sf_dir):
    """Q17 reads lineitem once; the part side broadcasts."""
    plan = explain_simple(registry()["q_tpch_q17"](spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_heavy_hitters_scans_documents_once(spark, sf_dir):
    """One documents scan feeds the whole heavy-hitters plan."""
    # The corpus total is derived from the counts table, not a second
    # scan + explode of the documents table.  The counts table is an
    # eager checkpoint, so the final plan shows 0 parquet scans (the one
    # real scan ran at checkpoint build) and reads ExistingRDD twice.
    plan = explain_simple(registry()["q_heavy_hitters"](spark, sf_dir))
    assert plan.count("documents.parquet") <= 1
    assert "ExistingRDD" in plan


def test_fuzzy_match_blocks_before_distance(spark, sf_dir):
    """Blocking join precedes the edit-distance compute -- never all-pairs."""
    # The levenshtein join must be an equi-join on the blocking key, not a
    # nested-loop over all pairs.
    plan = explain_simple(registry()["q_fuzzy_match"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_null_aware_anti_join_is_hash_not_nested_loop(spark, sf_dir):
    """NOT IN anti join plans as a hash join (null-aware), not BroadcastNestedLoop."""
    # Single-column NOT IN must plan as a null-aware broadcast hash join;
    # a BroadcastNestedLoopJoin here is quadratic at scale.
    plan = explain_simple(registry()["q_join_null_aware_anti"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "NAAJ" in plan or "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    """Per-group mean/std join back by broadcast; no data-grain re-shuffle for the z-score pass."""
    # The 5-row stats side must broadcast; the events stream is never
    # shuffled for the join.
    plan = explain_simple(registry()["q_anomaly_zscore"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """Sessionization is ONE hash exchange on user_id; windows reuse the partitioning."""
    # Both window passes (lag + running sum) share one user_id partitioning:
    # exactly one exchange in the plan.
    plan = explain_simple(registry()["q_sessionize"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_tfidf_single_corpus_scan(spark, sf_dir):
    """TF, DF and N all derive from ONE tokenized-corpus scan."""
    # tf, df and N: df re-aggregates the tf table and N is a broadcast
    # scalar from the raw docs scan — the explode runs once.
    plan = explain_simple(registry()["q_tfidf"](spark, sf_dir))
    assert plan.count("Generate explode") == 1


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed on the join key -> SortMergeJoin directly over
    Bucketed scans; the fact-to-fact shuffle disappears entirely."""
    df = registry()["q_bucketed_join"](spark, sf_dir)
    plan = explain_simple(df)
    join_section = plan[plan.index("SortMergeJoin"):]
    assert "Bucketed: true" in explain_formatted(df)
    # no Exchange below the join (the final groupBy on the bucket key is
    # also exchange-free: bucketing already co-partitions it)
    assert "Exchange" not in join_section


def test_partition_prune_binds_partition_filters(spark, sf_dir):
    """Partition predicates bind as PartitionFilters on the partitioned scan, pruning directories."""
    plan = explain_formatted(registry()["q_partition_prune"](spark, sf_dir))
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "(event_type" in plan and "= click)" in plan


def test_pagerank_iteration_count_is_bounded(spark, sf_dir):
    """Lineage is cut per iteration: the final plan must be the LAST
    iteration only (one join + one agg over a checkpointed frontier),
    not five nested join/agg levels."""
    plan = explain_simple(registry()["q_pagerank"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") <= 3


@pytest.mark.slow  # full-registry explain sweep (~4.2 min); round-close suite only
def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    """Registry-wide structural guard: no declared batch query may plan a
    CartesianProduct — an unconstrained pairwise blow-up at 100 TB.
    Theta/range joins must stay broadcast nested-loop (bounded small
    side); everything else equi-joins.  (~1 min: planning only, no
    execution.)"""
    offenders = []
    for name, fn in sorted(registry().items()):
        if name.startswith("q_stream"):  # streaming: needs a query start
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().sparkPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"cartesian product planned by: {offenders}"


def test_build_dimension_has_no_single_partition_window(spark, sf_dir, monkeypatch):
    """Surrogate-key assignment must never funnel the distinct key set
    through one partition: every Window node in build_dimension's plan
    carries the __pid partition key (input side) or runs over the tiny
    per-partition offset table.  The driver limit is patched to 0, so
    the distributed side is the one inspected even at a fixture size
    whose keys the driver would number."""
    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.operators import star

    monkeypatch.setattr(star, "DRIVER_DIM_LIMIT", 0)
    dim = star.build_dimension(
        load_table(spark, sf_dir, "orders"), ["o_custkey"], "cust_dim_id"
    )
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert "__pid" in plan
    for line in plan.splitlines():
        if "Window [" in line and "__pid" not in line:
            raise AssertionError(f"single-partition window: {line}")


def test_quantile_ladder_broadcasts_p_table(spark, sf_dir):
    """The 5-row p-table must broadcast onto the ranked frame (a shuffle
    or cartesian against data-grain rows would be a scale bug), and no
    data-grain single-partition Window may appear (ranks come from the
    two-phase global_rank)."""
    from java_etl_bi_generator_spark.plans import explain_simple

    df = registry()["q_quantile_ladder"](spark, sf_dir)
    plan = explain_simple(df)
    assert "BroadcastNestedLoopJoin" in plan  # non-equi join, tiny side
    assert "CartesianProduct" not in plan
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for line in exec_plan.splitlines():
        # data-grain windows must carry the __pid partition key; windows
        # over the partitions-sized count/offset table (__cnt) are fine
        if ("Window [" in line and "__pid" not in line
                and "__cnt" not in line):
            raise AssertionError(f"single-partition window: {line}")


def test_event_pattern_single_shuffle(spark, sf_dir):
    """The journey build is one shuffle on user_id — partial
    collect_list map-side, final agg after the exchange."""
    from java_etl_bi_generator_spark.plans import explain_simple

    plan = explain_simple(registry()["q_event_pattern"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_cusum_broadcasts_scalar_aggregates(spark, sf_dir):
    """Both 1-row aggregates (totals, peak day) join back by broadcast;
    the ordered window runs only on the day-grain series."""
    from java_etl_bi_generator_spark.plans import explain_simple

    plan = explain_simple(registry()["q_cusum_changepoint"](spark, sf_dir))
    # S/N/peak all come from full-frame windows over the day-grain
    # series — no aggregate side branches, so exactly ONE orders scan
    assert "CartesianProduct" not in plan
    assert plan.count("Scan parquet") == 1


def test_ks_test_no_data_grain_single_partition_window(spark, sf_dir):
    """KS's ECDF gap cumsum must be the range-partitioned two-phase form:
    data-grain Window nodes carry __pid; only the partitions-sized offset
    table may window globally (__ptot)."""
    df = registry()["q_ks_test"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if ("Window [" in line and "__pid" not in line
                and "__ptot" not in line):
            raise AssertionError(f"single-partition window: {line}")


def test_psi_drift_single_scan_broadcast_totals(spark, sf_dir):
    """PSI is one orders scan into a 10-row aggregate; the totals ride a
    broadcast, never a shuffle of the binned table."""
    from java_etl_bi_generator_spark.plans import explain_simple

    plan = explain_simple(registry()["q_psi_drift"](spark, sf_dir))
    assert plan.count("orders.parquet") <= 2  # g + totals subtrees share scans
    assert "CartesianProduct" not in plan


def test_sample_weighted_take_ordered_and_biased(spark, sf_dir):
    """Weighted sampler must plan as TakeOrderedAndProject (per-partition
    top-k, no global sort), and its A-Res keys must actually bias toward
    weight: one doc 1000x heavier than 200 others is essentially always
    in a top-5 draw."""
    import pyspark.sql.functions as F

    plan = registry()["q_sample_weighted"](spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    from java_etl_bi_generator_spark.functions.sampling import ares_key

    rows = [(i, "x", "en", "s", 10) for i in range(200)] + [
        (999, "x", "en", "s", 10000)
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    key = ares_key(F.col("doc_id"), F.col("n_chars"))
    top = (
        df.select("doc_id", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(5)
        .collect()
    )
    assert 999 in {r["doc_id"] for r in top}


def test_ks_by_segment_no_data_grain_single_partition_window(spark, sf_dir):
    """Per-segment KS must not funnel segments through 5 partitions:
    data-grain Window nodes carry __pid; only the partitions×segments
    offset table (__ptot) may window per segment."""
    df = registry()["q_ks_by_segment"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if ("Window [" in line and "__pid" not in line
                and "__ptot" not in line):
            raise AssertionError(f"single-partition window: {line}")


def test_basket_pairs_and_rfm_plan_shapes_pinned(spark, sf_dir):
    """Round-4 verdict task 4: the bench drift on these two queries was
    measured to be harness load, not plan growth (SCALING.md "Bench drift
    audit": isolated min-of-6 at sf0.1 beats even the round-3 bench
    numbers).  Pin the plan shapes so a FUTURE regression of the plans
    themselves — extra shuffles, a join strategy flip, a second fact
    scan — fails loudly instead of hiding inside bench spread."""
    plan = explain_formatted(registry()["q_basket_pairs"](spark, sf_dir))
    assert plan.count("orders.parquet") == 1  # single fact scan
    assert plan.count("SortMergeJoin") == 0  # pair join stays broadcast
    assert plan.count("Exchange") <= 14  # incl. rank-machinery offsets
    plan = explain_formatted(registry()["q_rfm"](spark, sf_dir))
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("Exchange") <= 10
    # the distributed-rank contract: never a global single-partition sort
    assert "No Partition Defined" not in plan


def test_round8_new_query_plan_shapes(spark, sf_dir):
    """Round-8 plan pins: the new operators' load-bearing physical
    claims fail loudly if a future change regresses them."""
    # q_oov_rate: the 1000-row vocab joins BROADCAST — the token stream
    # must not shuffle on token a second time for the membership join.
    plan = explain_formatted(registry()["q_oov_rate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("SortMergeJoin") == 0
    # q_maxsim_late_interaction: all 16 sub-vector dots are codegen
    # expressions — no explode (Generate), no join, one ordered
    # projection.
    plan = explain_formatted(
        registry()["q_maxsim_late_interaction"](spark, sf_dir)
    )
    assert "Generate" not in plan  # no explode
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan
    # q_hashing_trick: fixed 64-slot profile — one aggregate, no join,
    # partial aggregation present (map-side combine).
    plan = explain_formatted(registry()["q_hashing_trick"](spark, sf_dir))
    assert "Join" not in plan
    assert "partial" in plan.lower()
    # q_shapley_attribution: the 16-row coalition machinery must stay
    # broadcast (the user-grain census is behind a lineage cut, so the
    # fact scan shows as the RDD boundary — assert the join strategy).
    plan = explain_formatted(
        registry()["q_shapley_attribution"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_quality_scorer_broadcasts_model(spark, sf_dir):
    """The 1024-slot weight table must BROADCAST onto the token stream
    — a shuffled model join would serialize the corpus scan behind a
    pointless exchange at 100 TB."""
    plan = explain_simple(
        registry()["q_quality_linear_scorer"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan


def test_bradley_terry_broadcasts_strengths(spark, sf_dir):
    """Every MM round joins the 25-row strength frame — all three
    rounds must broadcast it (the brand-pair game table never
    re-shuffles on the model side)."""
    plan = explain_simple(registry()["q_bradley_terry"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 6  # 2 per round x 3 rounds


def test_join_cardinality_never_materializes_join(spark, sf_dir):
    """The estimator's plan must contain the two key-grain aggregates
    and only key-grain joins — no join of the fact tables themselves
    (the entire point is predicting without running it)."""
    df = registry()["q_join_cardinality_estimate"](spark, sf_dir)
    plan = explain_simple(df)
    # the only scans are orders/lineitem feeding immediate aggregates:
    # every join input is already an aggregate, so the plan has at
    # least 4 HashAggregates (partial+final per side) before any join
    assert plan.count("HashAggregate") >= 4


def test_table_checksum_single_pass(spark, sf_dir):
    """One scan, one global aggregate — no exchange other than the
    final 1-row gather."""
    plan = explain_simple(registry()["q_table_checksum"](spark, sf_dir))
    assert plan.count("Exchange") <= 1


def test_round10_new_query_plan_shapes(spark, sf_dir):
    """Round-10 scale shapes: DSIR's bucket models broadcast (the point
    of hashing to B=1024 — fixed-size models at any vocabulary); the
    lateness profile's running max never windows the data grain in a
    single partition (hour-block within-window + block-grain prefix);
    temperature sampling collapses to the language grain before any
    arithmetic."""
    from java_etl_bi_generator_spark.plans import explain_simple

    # DSIR: the <=1024-row ratio model joins back by broadcast, never a
    # shuffle of the token-grain frame against the model
    plan = explain_simple(registry()["q_dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan

    # lateness: every data-grain Window is partitioned by the arrival
    # block; only the block-grain prefix-max (bmax/pmax) may window
    # globally
    df = registry()["q_watermark_lateness_profile"](spark, sf_dir)
    jplan = df._jdf.queryExecution().executedPlan().toString()
    for line in jplan.splitlines():
        if ("Window [" in line and "blk" not in line):
            raise AssertionError(f"single-partition data window: {line}")

    # temperature sampling: the corpus scan happens exactly once, inside
    # the lineage-cut materialization of the language-grain frame; the
    # final normalize/join plan reads only the cut (ExistingRDD /
    # checkpoint scan) — zero parquet re-scans of documents
    plan = explain_simple(
        registry()["q_language_temperature_sampling"](spark, sf_dir)
    )
    assert plan.count("Scan parquet") == 0
    assert "ExistingRDD" in plan

"""Optimizer-contract regression tests: pushdown, pruning, broadcast,
codegen. These pin the *plan shapes* that make the engine scale, so a
refactor that silently un-pushes a filter or drops a broadcast fails CI
even though answers stay correct."""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def shuffle_exchanges(plan: str) -> list[str]:
    """Shuffle exchanges only — substring-counting "Exchange" also
    matches BroadcastExchange (which is the GOOD join strategy these
    tests want to allow) and is brittle across plan-format changes.
    Spark prints shuffles as ``Exchange <distribution>(...)``; broadcast
    as ``BroadcastExchange``."""
    return re.findall(
        r"(?<!Broadcast)Exchange (hashpartitioning|rangepartitioning|"
        r"RoundRobinPartitioning|SinglePartition)",
        plan,
    )


def test_filter_shipdate_pushdown_and_pruning(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import pushed_filters, read_schema_columns

    df = QUERIES["q_filter_shipdate"][0](spark, SF_SMOKE)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf and "l_returnflag" in pf, pf
    # Scan must read only the columns the query touches (5 of 16).
    (cols,) = read_schema_columns(df)
    assert set(cols) <= {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }, cols


def test_doc_scan_prunes_text_column(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import read_schema_columns

    df = QUERIES["q_doc_scan"][0](spark, SF_SMOKE)
    (cols,) = read_schema_columns(df)
    # The wide `text` column must NOT be read for a metadata-only query.
    assert "text" not in cols, cols


def test_orders_nation_join_broadcasts(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import has_broadcast_hash_join

    df = QUERIES["q_join_orders_customer"][0](spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)


def test_postings_pipeline_is_fused(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_postings"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Three exchanges max: the single-row-group-file parallelism repartition
    # (absent on well-split inputs), the (term, salt) partial aggregation,
    # and the per-term merge. The narrow prefix (scan→explode→normalize→
    # filter) fuses into one stage; there is no separate distinct pass at
    # all — map-side partial collect_set dedups (term, doc_id) before the
    # first shuffle (operators/index.py::build_postings).
    assert len(shuffle_exchanges(plan)) <= 3, plan
    # No Python evaluation anywhere in the flagship pipeline.
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_unsalted_postings_build_is_single_hash_exchange(spark):
    from mapreduceindexer_spark.operators.index import build_postings
    from mapreduceindexer_spark.plans import explain_str
    from mapreduceindexer_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = explain_str(build_postings(docs), "simple")
    # The default (unsalted) build: one hash exchange on term, fed by a
    # map-side partial collect_set that dedups (term, doc_id) before the
    # shuffle. Any other Exchange is the test-file parallelism round-robin.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    exchange = plan.index("Exchange hashpartitioning")
    assert "partial_collect_set" in plan[exchange:], plan


def test_top_terms_plans_take_ordered(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_top_terms"][0](spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in explain_str(df)


def test_scan_lineitem_prunes_to_projection(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import read_schema_columns

    df = QUERIES["q_scan_lineitem"][0](spark, SF_SMOKE)
    (cols,) = read_schema_columns(df)
    assert set(cols) == {
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
    }, cols


def test_join_5way_pushes_region_filter_and_broadcasts(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import (
        explain_str,
        has_broadcast_hash_join,
        pushed_filters,
    )

    df = QUERIES["q_join_5way"][0](spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    pf = " ".join(f for fs in pushed_filters(df) for f in [fs])
    # Region constant and the order-date range must reach the scans.
    assert "ASIA" in pf and "o_orderdate" in pf, pf
    # The two facts meet in at most one non-broadcast join; no cartesian.
    assert "CartesianProduct" not in explain_str(df)


def test_asof_join_is_single_shuffle_window(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_asof_join"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Union + one keyed window: exactly one hash exchange (the window's);
    # any other Exchange is the test-file parallelism round-robin. Never a
    # join operator, never a range explosion.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_minhash_has_no_row_explosion(spark):
    """The minhash stage must not multiply rows by n_hashes: one wide
    aggregation, not an explode over seeds."""
    from mapreduceindexer_spark.operators.dedup import doc_shingles, minhash_signatures
    from mapreduceindexer_spark.plans import explain_str
    from mapreduceindexer_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    mh = minhash_signatures(doc_shingles(docs, 3), n_hashes=16)
    plan = explain_str(mh, "simple")
    # Exactly one generate (the shingle explode) plus the final tiny
    # seed-struct explode — never a seed explode before the aggregation.
    assert plan.count("Generate") <= 2, plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The band join must plan as a hash equi-join on the bucket key with a
    residual range filter — never BroadcastNestedLoopJoin/CartesianProduct,
    which is what a naive ON lo <= v AND v < hi plans as."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_range_join"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fuzzy_pairs_blocks_with_hash_join(spark):
    """Blocked fuzzy matching must plan the self-join as a hash join on the
    (brand, type) block key; the quadratic comparison never appears as a
    nested loop over the whole table."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_fuzzy_pairs"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "HashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_outer_join_daily_aggregates_before_join(spark):
    """Aggregate-then-join: both HashAggregates must appear BELOW the outer
    join (the join input is daily rows, not raw facts)."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_outer_join_daily"][0](spark, SF_SMOKE)
    plan = explain_str(df, "formatted")
    join_pos = plan.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = plan.find("ShuffledHashJoin")
    assert join_pos != -1, plan
    # At least two aggregates are planned after (=physically below) the join
    # node in the formatted tree dump.
    assert plan.count("HashAggregate", join_pos) >= 2, plan


def test_curation_pipeline_has_no_quadratic_join(spark):
    """The 4-stage curation composite must stay LSH-shaped end to end:
    no cartesian product, no broadcast nested loop anywhere in the plan,
    and no Python evaluation (every stage is JVM-side)."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_curation_pipeline"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cross_dedup_joins_sigs_not_docs(spark):
    """Cross-dataset dedup joins band SIGNATURES, never document text: the
    plan must contain no cartesian/nested-loop and the candidate join side
    must not carry the text column."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_cross_dedup"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_top_orders_plans_take_ordered_and_pushes_filters(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, pushed_filters

    df = QUERIES["q_top_orders"][0](spark, SF_SMOKE)
    # Global top-10 must be TakeOrderedAndProject (k rows per partition),
    # never a full sort.
    assert "TakeOrderedAndProject" in explain_str(df)
    # Every dimension filter reaches its scan.
    pf = " ".join(pushed_filters(df))
    assert "c_mktsegment" in pf and "o_orderdate" in pf and "l_shipdate" in pf, pf


def test_rp_lsh_is_hash_join_on_signature(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_rp_lsh"][0](spark, SF_SMOKE)
    plan = explain_str(df)
    # Candidate generation must be an equi-join on the signature — an
    # all-pairs nested loop here is the O(n^2) scale-killer SRP exists
    # to avoid.
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # Signature computation is pure JVM arithmetic, no Python boundary.
    assert "EvalPython" not in plan, plan


def test_multi_rollup_scans_events_once(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_multi_rollup"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Coarse resolutions must derive from the minute aggregate, never by
    # re-truncating raw event timestamps: date_trunc at hour/day must be
    # applied to window_start (the minute column), not to ts.
    assert "date_trunc(hour, ts" not in plan, plan
    assert "date_trunc(day, ts" not in plan, plan
    # Three chained partial+final aggregate levels.
    assert plan.count("HashAggregate") >= 6, plan


def test_quantization_is_narrow_no_shuffle(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_embed_quant"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Pure per-row array arithmetic: the only exchange allowed is the
    # test-input parallelism repartition, never a data-dependent shuffle.
    sx = shuffle_exchanges(plan)
    assert len(sx) <= 1 and "hashpartitioning" not in sx, (sx, plan)
    assert "EvalPython" not in plan, plan


def test_sequence_pack_single_window_then_agg(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_sequence_pack"][0](spark, SF_SMOKE)
    plan = explain_str(df)
    assert "Window" in plan
    assert "EvalPython" not in plan, plan
    # The running sum must be shard-partitioned (shard-parallel packing),
    # never a global single-partition window over the whole corpus.
    formatted = explain_str(df, "formatted")
    assert "windowspecdefinition(shard" in formatted, formatted


def test_min_cost_supplier_single_fact_shuffle(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, has_broadcast_hash_join

    df = QUERIES["q_min_cost_supplier"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Window min and the argmin groupBy both partition on l_partkey, so
    # the fact shuffles once; both dimension joins broadcast. Budget: one
    # fact exchange + the small-file parallelism repartition + broadcast
    # exchanges (which are not partition shuffles but still print as
    # BroadcastExchange — count only Exchange hashpartitioning).
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert has_broadcast_hash_join(df)


def test_supplier_variety_anti_join_broadcasts(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_supplier_variety"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The exclusion list is a few-row filtered dimension: the anti-join
    # must be broadcast (no shuffle of the fact for the exclusion).
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_idle_customers_scalar_broadcast_and_anti_join(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_idle_customers"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # One-row average joins via broadcast (nested-loop on a single row is
    # fine); inactivity is an anti-join, and the orders date filter must
    # reach the scan so the anti-join input is the trailing window only.
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    from mapreduceindexer_spark.plans import pushed_filters

    assert "o_orderdate" in " ".join(pushed_filters(df))


def test_disjunctive_join_pushes_or_predicates_to_both_scans(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import pushed_filters

    df = QUERIES["q_disjunctive_join"][0](spark, SF_SMOKE)
    pf = " ".join(pushed_filters(df))
    # Catalyst must split the OR-of-ANDs: the lineitem-only disjunction
    # (quantity ranges) and the part-only disjunction (brand/size) each
    # reach their own scan as a pushed filter — the join evaluates only
    # the residual.
    assert "l_quantity" in pf, pf
    assert "p_brand" in pf, pf


def test_small_qty_revenue_broadcasts_part_dim(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, has_broadcast_hash_join

    df = QUERIES["q_small_qty_revenue"][0](spark, SF_SMOKE)
    assert has_broadcast_hash_join(df)
    # The per-part average join keys on l_partkey, same as the aggregate
    # that produced it — the fact never shuffles on anything else.
    plan = explain_str(df, "simple")
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_waiting_suppliers_topk_and_bounded_shuffles(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_waiting_suppliers"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Final top-10 must be TakeOrderedAndProject (distributed partial
    # top-k). The single-pass formulation collapses each order with ONE
    # collect_set aggregate (supplier set + late-supplier set), so the
    # fact crosses the wire once on l_orderkey; the only other hash
    # exchanges are the orders side of the orderkey join and the tiny
    # s_name count — vs the four self-join shuffles of the classic
    # EXISTS/NOT EXISTS transcription. Lineitem is read ONCE.
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_rolling_distinct_broadcasts_day_spine(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_rolling_distinct"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The band join fans pairs over the tiny day spine: broadcast
    # nested-loop against the spine, never a shuffled cartesian.
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bpe_pairs_plans_take_ordered_topk(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_bpe_pairs"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    # The adjacency window partitions per document — never a global sort.
    assert "Window" in plan, plan


def test_sentences_is_single_pass_arrow_no_shuffle(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, read_schema_columns

    df = QUERIES["q_sentences"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Pure per-row Python kernel: Arrow-batched MapInPandas, zero
    # exchanges, and the scan reads only (doc_id, text).
    assert "MapInPandas" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    (cols,) = read_schema_columns(df)
    assert set(cols) <= {"doc_id", "text"}, cols


def test_gram_matrix_single_fact_shuffle(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_gram_matrix"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Self-join on vec_id (co-partitioned or broadcast) + the (i, j)
    # reduce whose key space is d^2 — bounded regardless of corpus size.
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_countmin_probe_broadcasts_counters(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_countmin"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The sketch is d*w rows regardless of corpus size — the probe joins
    # it by broadcast; the heavy-hitter probe itself is a distributed
    # top-k, never a global sort.
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_hll_register_aggregate_is_bounded(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_hll"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The sketch reduces to a 256-key register table, then two scalar
    # aggregates joined 1x1 — no cartesian blowup, no Python in the path.
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_bloom_probe_broadcasts_bits(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_bloom"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The bit array (<= 8192 rows) and the probe-hit table broadcast; the
    # corpus itself is never shuffled by the membership test.
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-N probes, no global sort


def test_priority_late_is_semi_join_with_pushdown(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, pushed_filters

    df = QUERIES["q_priority_late"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan, plan
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf, pf  # year window reaches the orders scan


def test_linestatus_priority_pushes_shipdate(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import pushed_filters, read_schema_columns

    df = QUERIES["q_linestatus_priority"][0](spark, SF_SMOKE)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, pf
    schemas = read_schema_columns(df)
    # lineitem scan reads only join key, group key, and the pushed date.
    assert any(
        set(c) <= {"l_orderkey", "l_linestatus", "l_shipdate"} for c in schemas
    ), schemas


def test_priority_late_derived_shipdate_pushdown(spark):
    """Q4 shape: the orders-side year bound implies a lineitem shipdate
    lower bound across the non-equi EXISTS condition; the query states it
    explicitly and it must land in the lineitem scan's PushedFilters."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import pushed_filters

    df = QUERIES["q_priority_late"][0](spark, SF_SMOKE)
    pf = [" ".join(p) for p in (pushed_filters(df),)]
    all_pf = pf[0]
    assert "l_shipdate" in all_pf and "GreaterThan" in all_pf, all_pf


def test_volume_shipping_single_fact_pass_all_dims_broadcast(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, pushed_filters

    df = QUERIES["q_volume_shipping"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # lineitem is scanned exactly once; supplier/customer/nation broadcast.
    assert plan.count("FileScan parquet") <= 6, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims all fit broadcast at test SF
    # The two-nation IN() filter reaches the nation scans.
    pf = " ".join(pushed_filters(df))
    assert "n_name" in pf, pf
    # shipdate range reaches the fact scan.
    assert "l_shipdate" in pf, pf


def test_excess_suppliers_semi_chain_pushes_name_prefix(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str, pushed_filters

    df = QUERIES["q_excess_suppliers"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    pf = " ".join(pushed_filters(df))
    # The part-name LIKE 'small%' prefix is pushed to the part scan as a
    # StartsWith, and both membership tests plan as semi joins.
    assert "small" in pf, pf
    assert plan.count("LeftSemi") >= 2, plan


def test_top_supplier_max_window_is_over_aggregate_not_fact(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_top_supplier"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # One fact aggregate (partial + final pair over one shuffle), then the
    # scalar-max window over the per-supplier relation; the supplier dim
    # joins after the filter (broadcast).
    assert plan.count("FileScan parquet") == 2, plan
    assert "Window" in plan and "BroadcastHashJoin" in plan, plan


def test_weighted_sample_is_single_exchange_with_group_limit(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_weighted_sample"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The min-ticket key is a narrow per-row expression: no explode, no
    # per-doc aggregate. The only hash exchange is the per-lang window,
    # and WindowGroupLimit prunes to k rows per task before the shuffle.
    assert "Generate" not in plan, plan  # no explode
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_postings_compress_adds_no_exchange_beyond_index_build(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_postings_compress"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Same exchange budget as q_postings itself (parallelism repartition +
    # two-level salted agg): the Arrow encode stage is narrow.
    assert len(shuffle_exchanges(plan)) <= 3, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan


def test_semantic_dedup_pairs_only_within_cells(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_semantic_dedup"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The pair generation must be an equi-join on the cell key — never a
    # cartesian over the corpus. (The k-means crossJoins broadcast a
    # bounded centroid set; that is the only nested-loop shape allowed.)
    for line in plan.splitlines():
        if "CartesianProduct" in line:
            raise AssertionError(plan)


def test_forecast_revenue_is_pure_scan_and_agg(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import (
        explain_str,
        pushed_filters,
        read_schema_columns,
    )

    df = QUERIES["q_forecast_revenue"][0](spark, SF_SMOKE)
    pf = " ".join(pushed_filters(df))
    # All three band predicates reach the scan (row-group pruning fodder).
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf, pf
    (cols,) = read_schema_columns(df)
    assert set(cols) <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice",
    }, cols
    plan = explain_str(df, "simple")
    # Scalar aggregate: the only movement is 1-row partials to one task.
    assert "Exchange hashpartitioning" not in plan, plan


def test_product_profit_broadcasts_all_dims_single_fact_shuffle(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_product_profit"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # part and supplier⋈nation broadcast; lineitem is read once and the
    # only hash exchanges are the orderkey join sides + final group agg.
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_important_stock_aggregates_fact_once(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_important_stock"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Global threshold = window over the per-part aggregate, NOT a second
    # fact scan or a join-back.
    assert plan.count("lineitem.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_domain_cap_single_exchange_with_group_limit(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_domain_cap"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # One per-source window exchange; WindowGroupLimit prunes to k rows
    # per task map-side, so a giant domain never ships its population.
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_dsir_model_is_broadcast_and_corpus_scanned_once(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_dsir_weights"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The 1024-row bucket model joins back onto the feature stream as a
    # broadcast — the feature stream itself is never re-shuffled to meet
    # the model.
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_salted_join_matches_on_salt_and_absorbs_replication(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_salted_join"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The join must key on (custkey, _salt) — that is the whole point —
    # and the post-join aggregate partials absorb the ×B dim replication
    # before the final nation shuffle.
    assert "_salt" in plan, plan
    assert "HashAggregate" in plan, plan


def test_triangles_has_no_cartesian_and_prunes_before_pairing(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_triangles"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Pair expansion and wedge join are equi-joins; the only allowed
    # nested-loop is the 1-row doc-count scalar broadcast.
    assert "CartesianProduct" not in plan, plan


def test_sparse_cosine_joins_through_terms_not_all_pairs(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_sparse_cosine"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Documents meet only via shared surviving terms (equi-join on term);
    # no document-level cross pairing anywhere.
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_variant_events_is_pure_jvm_single_agg(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_variant_events"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # VARIANT parse + typed path extraction stays inside codegen: no
    # Python evaluation anywhere in the plan.
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "variant_get" in plan or "parse_json" in plan, plan


def test_udtf_topterms_is_shuffle_free(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_udtf_topterms"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Per-doc state only: the lateral UDTF expansion must add no exchange
    # beyond the loader's parallelism repartition. (Count over the WHOLE
    # plan string — the plan prints root-first, so any UDTF-added
    # exchange appears above the loader's round-robin line.)
    sx = shuffle_exchanges(plan)
    assert sx == ["RoundRobinPartitioning"], (sx, plan)


def test_pmi_prunes_then_broadcasts(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_pmi"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The df dictionaries and the N scalar must broadcast; the only pair
    # expansion is the doc_id equi-join on the top-10-pruned relation.
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hll_merge_equals_direct_build(spark):
    """Mergeability is lossless end-to-end: the per-lang partial sketches
    merged by max() must yield exactly the estimate of q_hll's direct
    global build (same portable hash, same registers, same correction)."""
    from mapreduceindexer_spark.catalog import QUERIES

    merged = (
        QUERIES["q_hll_merge"][0](spark, SF_SMOKE)
        .select("merged_est")
        .distinct()
        .collect()
    )
    assert len(merged) == 1
    direct = QUERIES["q_hll"][0](spark, SF_SMOKE).collect()[0].hll_est
    assert merged[0].merged_est == direct


def test_native_sketch_aggs_are_partial_object_hash(spark):
    """The DataSketches built-ins must plan as real aggregates
    (ObjectHashAggregate with a partial phase — per-partition sketches
    merged on the reduce side), i.e. the mergeable-sketch execution
    shape, not a global sort or single-partition funnel."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    for q in (
        "q_theta_setops_bound",
        "q_kll_quantiles_bound",
        "q_hll_native_merge_bound",
    ):
        plan = explain_str(QUERIES[q][0](spark, SF_SMOKE), "simple")
        assert "ObjectHashAggregate" in plan, (q, plan)
        assert "CartesianProduct" not in plan, (q, plan)


def test_sql_table_udf_inlines_and_pushes_filter(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import pushed_filters

    df = QUERIES["q_sql_table_udf"][0](spark, SF_SMOKE)
    # The SQL table function's body must be inlined so its WHERE reaches
    # the parquet scan — a table UDF that materializes first would read
    # the whole corpus to answer a >= filter.
    pf = " ".join(pushed_filters(df))
    assert "n_chars" in pf and "GreaterThanOrEqual" in pf, pf


def test_knn_graph_pairs_within_cells_with_group_limit(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_knn_graph"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # Pairing must be an equi-join on the IVF cell (never all-pairs) —
    # the only nested-loop allowed is the bounded 8-row centroid
    # broadcast inside the assignment.
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(cell" in plan or "BroadcastHashJoin [cell" in plan, plan
    # Per-vector top-k must prune map-side before the window shuffle.
    assert "WindowGroupLimit" in plan, plan


def test_arrow_token_stats_is_zero_shuffle_map_in_arrow(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_arrow_token_stats"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The raw-Arrow boundary (no pandas conversion) and nothing but
    # per-row work: the only exchange allowed is the test-input
    # parallelism repartition.
    assert "MapInArrow" in plan, plan
    sx = shuffle_exchanges(plan)
    assert len(sx) <= 1 and "hashpartitioning" not in sx, (sx, plan)


def test_prefix_trie_runs_native_recursion(spark):
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_prefix_trie"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    # The recursion must be Spark's native UnionLoop operator (WITH
    # RECURSIVE), not a driver-side unrolling.
    assert "UnionLoop" in plan, plan


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """The bin-bucketed interval join must plan the self-join as a hash
    equi-join on (user_id, bin) with the overlap/dedup predicates as
    residual filters — never a nested loop over per-user event sets."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_interval_join"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pq_ann_broadcasts_probe_table_and_codebook(spark):
    """PQ ADC: the m x ksub probe distance table joins the code relation
    as a BROADCAST (it is bounded by construction), and the only
    crossJoin in the encode stage is the broadcast of the ksub-row
    codebook — no shuffle keyed on anything quadratic."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.plans import explain_str

    df = QUERIES["q_pq_ann"][0](spark, SF_SMOKE)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # (The encode stage's codebook crossJoin may appear as a broadcast
    # nested loop — that input is ksub rows by construction; the pins
    # above guarantee the ADC lookup is a broadcast HASH join and nothing
    # plans a real cartesian product.)


def test_html_extract_is_one_narrow_pass(spark):
    """The HTML wrap+extract query must stay a single narrow
    projection pass — zero shuffle exchanges, zero Python UDF nodes —
    so at 100 TB it runs at scan speed."""
    from mapreduceindexer_spark.catalog import QUERIES

    df = QUERIES["q_html_extract"][0](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The only exchange allowed is the shared _docs loader's
    # round-robin input rebalance (parallelism, not a key shuffle).
    assert all(
        kind == "RoundRobinPartitioning" for kind in shuffle_exchanges(plan)
    ), plan
    for py_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py_node not in plan, plan


def test_cell_pair_joins_pin_quadratic_stage_parallelism(spark):
    """The in-cell / in-bucket pair self-joins are compute-QUADRATIC at
    tiny input bytes (one interpreted dot product per candidate pair),
    so AQE's byte-based partition sizing coalesces them to ~1 task
    (measured at sf0.1: the whole KNN join ran (0+1)/1 on 32 cores).
    Both join sides must carry the explicit 4x-cores repartition on the
    pairing key — 'REPARTITION_BY_NUM', which AQE never coalesces — and
    the spread must not change a single row (r13; guide §2.5/§8)."""
    from mapreduceindexer_spark.catalog import QUERIES
    from mapreduceindexer_spark.operators import dedup as dd
    from mapreduceindexer_spark.operators import similarity as sim
    from mapreduceindexer_spark.plans import explain_str

    n_pin = spark.sparkContext.defaultParallelism * 4
    for q in ("q_knn_graph", "q_embed_dup", "q_semantic_dedup"):
        plan = explain_str(QUERIES[q][0](spark, SF_SMOKE), "simple")
        pins = re.findall(
            r"hashpartitioning\((?:cell|sig)[^)]*, (\d+)\), REPARTITION_BY_NUM",
            plan,
        )
        assert len(pins) >= 2 and all(int(p) == n_pin for p in pins), (
            q,
            pins,
            plan,
        )

    # Row identity: the spread is placement-only. Same rows (and the
    # same rounded cosines) with the repartition stubbed out.
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .limit(200)
        .localCheckpoint()
    )
    real = sim._spread_cells
    try:
        on_knn = sorted(map(tuple, sim.knn_graph(emb, k=3).collect()))
        on_sem = sorted(map(tuple, dd.semantic_dedup(emb).collect()))
        sim._spread_cells = lambda df, key: df
        off_knn = sorted(map(tuple, sim.knn_graph(emb, k=3).collect()))
        off_sem = sorted(map(tuple, dd.semantic_dedup(emb).collect()))
    finally:
        sim._spread_cells = real
    assert on_knn == off_knn and len(on_knn) > 0
    assert on_sem == off_sem and len(on_sem) > 0

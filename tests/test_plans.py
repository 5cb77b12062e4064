"""Physical-plan regression tests: the properties that make queries survive
a 1000-executor / 100 TB scale-up are asserted here, so a refactor that
silently drops a pushdown or turns a broadcast join into a cartesian product
fails CI — not the cluster.

Checked per plan:
  - predicate pushdown reaches the parquet scan (PushedFilters non-empty);
  - column pruning reaches the scan (ReadSchema carries only needed cols);
  - small dims join via BroadcastHashJoin, never CartesianProduct;
  - whole-stage codegen is present (JVM-side execution, no Python in the
    relational path).
"""

from __future__ import annotations

import pytest

from sdg_data_catalog_spark.plans import inspect as P
from sdg_data_catalog_spark.queries.registry import all_queries

_formatted_plan = P.formatted_plan


@pytest.fixture(scope="module")
def plans(module_spark, sf_dir):
    qs = all_queries()
    return {name: _formatted_plan(qs[name](module_spark, sf_dir)) for name in (
        "q5_adhoc",
        "q1_pricing_summary",
        "join_fk",
        "scan_pushdown_projection",
        "topk_global",
        "join_broadcast_dim",
    )}


def test_q5_pushes_shipdate_filter_into_scan(plans):
    plan = plans["q5_adhoc"]
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_q5_prunes_lineitem_columns(plans):
    # 4 needed columns out of 16 — the scan schema must not carry the rest
    plan = plans["q5_adhoc"]
    li_schema = next(
        l for l in plan.splitlines() if "ReadSchema" in l and "l_orderkey" in l
    )
    assert "l_comment" not in li_schema and "l_partkey" not in li_schema


def test_q5_joins_are_broadcast_not_cartesian(plans):
    plan = plans["q5_adhoc"]
    assert P.has_broadcast_join(plan)
    assert not P.has_pathological_join(plan)


def test_q1_single_aggregation_exchange(plans):
    # partial (map-side) + final agg around exactly one shuffle
    assert P.shuffle_exchanges(plans["q1_pricing_summary"]) <= 2


def test_scan_projection_reaches_reader(plans):
    plan = plans["scan_pushdown_projection"]
    li_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "comment" not in li_schema


def test_topk_is_take_ordered_not_global_sort(plans):
    plan = plans["topk_global"]
    assert "TakeOrderedAndProject" in plan


def test_broadcast_dim_join_broadcasts_small_side(plans):
    plan = plans["join_broadcast_dim"]
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_relational_plans_stay_jvm_side(plans):
    # no Python evaluation nodes in pure-relational paths
    for name in ("q5_adhoc", "q1_pricing_summary", "join_fk", "topk_global"):
        assert P.python_eval_nodes(plans[name]) == [], name


def test_codegen_present(spark, sf_dir):
    # '*(n)' prefixes in the executed plan mark whole-stage-codegen spans
    qs = all_queries()
    for name in ("q5_adhoc", "q1_pricing_summary"):
        df = qs[name](spark, sf_dir)
        df.collect()  # finalize THIS df's adaptive plan (a write plans separately)
        assert P.codegen_spans(P.executed_plan(df)) >= 1, name


@pytest.fixture(scope="module")
def tpch_plans(module_spark, sf_dir):
    qs = all_queries()
    return {name: _formatted_plan(qs[name](module_spark, sf_dir)) for name in (
        "q4_priority_exists",
        "q19_disjunctive_join",
        "q22_idle_customers",
        "q17_small_quantity",
    )}


def test_q4_exists_becomes_semi_join(tpch_plans):
    """EXISTS must plan as a semi join (stop at first match), and the order
    date-range must push into the scan."""
    plan = tpch_plans["q4_priority_exists"]
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    assert not P.has_pathological_join(plan)


def test_q19_disjunction_still_prunes_and_broadcasts(tpch_plans):
    """The OR-of-conjuncts must not defeat join planning: part broadcasts,
    no cartesian, and Catalyst extracts a pushable lineitem implication."""
    plan = tpch_plans["q19_disjunctive_join"]
    assert P.has_broadcast_join(plan)
    assert not P.has_pathological_join(plan)
    assert "PushedFilters: [IsNotNull(l_partkey), Or(" in plan


def test_q22_not_exists_is_anti_join(tpch_plans):
    plan = tpch_plans["q22_idle_customers"]
    assert "LeftAnti" in plan
    # the scalar-subquery threshold plans as a 1-row BroadcastNestedLoopJoin
    # (O(n·1) — benign, it's how a scalar comparison against an aggregate
    # looks in DataFrame form); a CartesianProduct would be the real O(n·m)
    assert "CartesianProduct" not in plan


def test_q17_window_after_selective_join(tpch_plans):
    """The correlated-avg decorrelation must keep the brand filter BEFORE
    the window: the window input is the broadcast-joined (pruned) side."""
    plan = tpch_plans["q17_small_quantity"]
    assert "Window" in plan
    assert P.has_broadcast_join(plan)
    # brand filter pushes into the part scan, not evaluated post-join
    assert "EqualTo(p_brand,Brand#23)" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from sdg_data_catalog_spark.queries.scale_ops import bucketed_join_plan

    plan = _formatted_plan(bucketed_join_plan(spark, sf_dir))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # bucket i reads against bucket i directly


def test_bucketed_agg_has_no_exchange(spark, sf_dir):
    """groupBy on the bucket column must reuse the scan's HashPartitioning:
    the full-fact-table shuffle (q18's dominant cost) disappears."""
    from sdg_data_catalog_spark.queries.scale_ops import bucketed_agg_plan

    plan = _formatted_plan(bucketed_agg_plan(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "Exchange" not in plan


def test_q18_bucketed_agg_no_exchange(spark, sf_dir):
    """q18_bucketed's dominant stage — the per-orderkey quantity sum — must
    read the bucketed layout with no Exchange before the aggregate: the
    only Exchanges in the whole plan belong to the (tiny) post-HAVING join
    side and final ordering, never between the lineitem scan and its
    HashAggregate."""
    import pyspark.sql.functions as F

    from sdg_data_catalog_spark.queries.scale_ops import join_bucketed
    from sdg_data_catalog_spark.sources.formats import table_safe_sf_name as _sf_name

    join_bucketed(spark, sf_dir)  # ensure layout
    li = spark.table(f"li_bkt_{_sf_name(sf_dir)}")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sum_qty"))
    plan = _formatted_plan(agg)
    assert "HashAggregate" in plan
    assert "Exchange" not in plan
    # and the full query still runs green against its oracle via the
    # registry (q18_bucketed shares q18_large_orders' SQL)
    assert "q18_bucketed" in all_queries()


def test_q5_bucketed_join_no_exchange(spark, sf_dir):
    """q5_bucketed's fact-fact join must be bucket-local (ShuffledHashJoin
    with no Exchange under either fact input — since r4 the plan joins
    filtered lineitem directly, no per-orderkey pre-agg; see the query
    docstring's A/B). The only Exchange in the plan is the final tiny
    by-nation agg."""
    plan = _formatted_plan(all_queries()["q5_bucketed"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    # exactly one shuffle Exchange: the final groupBy(n_name) — counted via
    # the formatted plan's per-node detail headers ("(n) Exchange"), which
    # appear once per node; BroadcastExchange headers don't match.
    import re

    shuffles = re.findall(r"^\(\d+\) Exchange$", plan, re.M)
    assert len(shuffles) == 1, shuffles


def test_headline_routing_follows_measured_routes(spark, sf_dir):
    """Measured-route headline routing (r9 verdict: the layout-exists gate
    regressed q3 2x at sf0.1): each headline must read the layout its
    tier's persisted A/B probe recorded as the winner, and the *_adhoc
    twins must always read the raw parquet — all registered under the
    same oracles."""
    from sdg_data_catalog_spark.queries import scale_ops

    routes = scale_ops.ensure_route_probes(spark, sf_dir, reps=1)
    qs = all_queries()
    markers = {
        "q5": ("q5_revenue_by_nation", "q5_bucketed", "li_bkt_"),
        "q18": ("q18_large_orders", "q18_bucketed", "li_bkt_"),
        "q3": ("q3_shipping_priority", "q3_clustered", "li_sd_data"),
        "q6": ("q6_forecast_revenue", "q6_clustered", "li_sd_data"),
    }
    for key, (headline, twin, marker) in markers.items():
        assert routes[key]["winner"] in routes[key]["sec"], key
        plan = _formatted_plan(qs[headline](spark, sf_dir))
        if routes[key]["winner"] == twin:
            assert marker in plan, (key, "expected twin layout in plan")
        else:
            assert marker not in plan, (key, "expected ad-hoc plan")
    for name in ("q5_adhoc", "q18_adhoc", "q3_adhoc", "q6_adhoc"):
        plan = _formatted_plan(qs[name](spark, sf_dir))
        assert "li_bkt_" not in plan and "li_sd_data" not in plan, name


def test_route_choice_unprobed_and_stale_layout_fall_back_to_adhoc(tmp_path):
    """An unprobed tier returns None (headlines then run ad-hoc), and a
    routes file whose twin layout was cleaned from disk degrades to the
    ad-hoc plan instead of crashing on a missing path."""
    import json
    import os

    from sdg_data_catalog_spark.queries import scale_ops

    assert scale_ops.route_choice(str(tmp_path / "sf_unknown"), "q3") is None
    # fake a probed tier whose clustered layout no longer exists
    fake_sf = str(tmp_path / "sf_fake")
    os.makedirs(fake_sf)
    routes_path = scale_ops._routes_path(fake_sf)
    os.makedirs(os.path.dirname(routes_path), exist_ok=True)
    with open(routes_path, "w") as fh:
        json.dump(
            {"q3": {"winner": "q3_clustered", "sec": {}, "reps": 1}}, fh
        )
    try:
        assert scale_ops.route_choice(fake_sf, "q3") == "q3_adhoc"
    finally:
        import shutil

        shutil.rmtree(os.path.dirname(routes_path), ignore_errors=True)


def test_q3_q6_clustered_scan_the_date_clustered_layout(spark, sf_dir):
    """The clustered twins must actually read the range-clustered copies
    (li_sd_data / o_od_data), and their files must carry disjoint date
    ranges so footer min/max skipping works — the property the layout
    exists for."""
    from sdg_data_catalog_spark.queries import scale_ops

    q3 = scale_ops._q3_clustered_impl(spark, sf_dir)
    plan3 = _formatted_plan(q3)
    assert "li_sd_data" in plan3 and "o_od_data" in plan3
    plan6 = _formatted_plan(scale_ops._q6_clustered_impl(spark, sf_dir))
    assert "li_sd_data" in plan6
    # pushdown must survive the re-read of the clustered copy
    assert "PushedFilters: [" in plan6
    assert "l_shipdate" in plan6.split("PushedFilters")[1][:200]


def test_jdbc_scan_pushdown_and_partitioning(spark, sf_dir):
    """The JDBC scan must (a) push the acctbal filter into the remote SQL
    (PushedFilters on the JDBCRelation) and (b) plan the configured number
    of key-range input partitions — parallel executor-side connections,
    not one driver-side cursor."""
    import pyspark.sql.functions as F

    from sdg_data_catalog_spark.catalog import table as load
    from sdg_data_catalog_spark.sources import jdbc as J
    from sdg_data_catalog_spark.sources.formats import io_dir

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    db_dir = io_dir(sf_dir, "jdbc_derby_plan", fresh=False)
    J.seed_jdbc_table(spark, cust, db_dir, "custplan")
    lo, hi = cust.agg(F.min("c_custkey"), F.max("c_custkey")).collect()[0]
    remote = J.read_jdbc_partitioned(
        spark, db_dir, "custplan", "c_custkey", int(lo), int(hi), num_partitions=4
    ).filter(F.col("c_acctbal") > 0)
    plan = remote._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan
    assert "PushedFilters" in plan and "c_acctbal" in plan
    assert "numPartitions=4" in plan
    assert remote.rdd.getNumPartitions() == 4


def test_hash_sampling_is_pure_map_side(spark, sf_dir):
    """sample_hash must be a codegen'd filter over the scan — no shuffle,
    no Python eval: the property that makes it free at 100 TB."""
    from sdg_data_catalog_spark.queries.registry import all_queries

    plan = _formatted_plan(all_queries()["sample_hash"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    from sdg_data_catalog_spark.queries.scale_ops import partition_pruned_plan

    plan = _formatted_plan(partition_pruned_plan(spark, sf_dir))
    scan_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines and "src3" in scan_lines[0]


@pytest.fixture(scope="module")
def tpch_rest_plans(module_spark, sf_dir):
    qs = all_queries()
    return {name: _formatted_plan(qs[name](module_spark, sf_dir)) for name in (
        "q2_min_acctbal_supplier",
        "q16_supplier_relation",
        "q21_waiting_supplier",
        "q11_important_stock",
    )}


def test_q2_correlated_min_is_window_not_rescan(tpch_rest_plans):
    """The correlated per-part MIN must decorrelate into a window over the
    shipped relation — one lineitem scan total, dims broadcast."""
    plan = tpch_rest_plans["q2_min_acctbal_supplier"]
    assert "Window" in plan
    assert P.has_broadcast_join(plan)
    assert not P.has_pathological_join(plan)
    # exactly one lineitem scan: the subquery must not re-read the fact table
    assert plan.count("lineitem.parquet") == 1


def test_q16_not_in_is_anti_join(tpch_rest_plans):
    plan = tpch_rest_plans["q16_supplier_relation"]
    assert "LeftAnti" in plan
    assert P.has_broadcast_join(plan)
    assert not P.has_pathological_join(plan)


def test_q21_double_exists_is_single_aggregate(tpch_rest_plans):
    """The EXISTS / NOT-EXISTS pair must collapse into one per-order
    aggregate: no nested-loop anti join, no more than two lineitem scans
    (stats pass + late-line pass), status filter pushed into orders."""
    plan = tpch_rest_plans["q21_waiting_supplier"]
    assert not P.has_pathological_join(plan)
    assert "EqualTo(o_orderstatus,F)" in plan
    assert plan.count("lineitem.parquet") <= 2


def test_q11_threshold_is_single_pass(tpch_rest_plans):
    """The global-total HAVING must reuse the per-part aggregate (empty-frame
    window over the dim-bounded agg output), not re-evaluate the aggregate
    subtree: two lineitem scans would mean the decorrelation failed."""
    plan = tpch_rest_plans["q11_important_stock"]
    assert plan.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in plan


def test_range_clustered_files_are_disjoint(spark, sf_dir):
    """The range-clustered layout must produce files whose shipdate spans
    are pairwise disjoint (boundary ties aside) — the property that makes
    parquet footer min/max stats selective for range scans."""
    import glob
    import os

    import pyarrow.parquet as pq

    from sdg_data_catalog_spark.sources.formats import io_dir

    all_queries()["sink_range_clustered"](spark, sf_dir).collect()
    path = io_dir(sf_dir, "lineitem_range_clustered", fresh=False)
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        stats = [md.row_group(rg).column(0).statistics for rg in range(md.num_row_groups)]
        if stats:
            spans.append((min(s.min for s in stats), max(s.max for s in stats)))
    spans.sort()
    assert len(spans) >= 4  # the layout actually fanned out
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2, "file shipdate spans overlap — clustering failed"


def test_zorder_files_have_two_dim_locality(spark, sf_dir):
    """Z-order files must contract the per-file min/max span on BOTH
    dimensions (a single-key sort contracts one and leaves the other at
    ~full span) — the property that makes 2-dim predicate boxes skip row
    groups on either column's footer stats."""
    import glob
    import os

    import pyarrow.parquet as pq

    from sdg_data_catalog_spark.sources.formats import io_dir

    all_queries()["sink_zorder_clustered"](spark, sf_dir).collect()
    path = io_dir(sf_dir, "lineitem_zorder", fresh=False)
    spans = {"l_shipdate": [], "l_partkey": []}
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for ci, col in ((0, "l_shipdate"), (1, "l_partkey")):
            st = [md.row_group(rg).column(ci).statistics for rg in range(md.num_row_groups)]
            if st:
                spans[col].append((min(s.min for s in st), max(s.max for s in st)))
    assert len(spans["l_shipdate"]) >= 4
    for col, col_spans in spans.items():
        glo = max(hi for _, hi in col_spans) - min(lo for lo, _ in col_spans)
        avg = sum((hi - lo for lo, hi in col_spans), glo - glo) / len(col_spans)
        # both dims contract; a 1-dim sort would leave one at ~1.0× global
        assert avg < 0.8 * glo, (col, avg, glo)


def test_pii_redact_is_pure_map_side(spark, sf_dir):
    """Redaction must be a codegen'd regexp chain over the scan — no shuffle,
    no Python: what makes the compliance pass free at 100 TB."""
    plan = _formatted_plan(all_queries()["text_pii_redact"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_orc_scan_prunes_and_pushes(spark, sf_dir):
    """The ORC reader must honor the same contract as parquet: pruned
    ReadSchema (text never decoded) and the n_chars predicate pushed."""
    plan = _formatted_plan(all_queries()["scan_orc"](spark, sf_dir))
    orc_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" not in orc_schema and "lang" not in orc_schema
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,50)]" in plan


def test_lm_unigram_vocab_join_is_broadcast(spark, sf_dir):
    """The token→vocab join must be broadcast, never a shuffle join on the
    Zipf-skewed word key."""
    from sdg_data_catalog_spark.plans import inspect as P

    plan = _formatted_plan(all_queries()["lm_unigram_score"](spark, sf_dir))
    assert P.has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_quality_quantile_is_two_pass_broadcast(spark, sf_dir):
    """The per-source threshold must come back as a broadcast join — the text
    side never sorts and never shuffles for the join (only the final tiny
    per-source agg exchanges)."""
    from sdg_data_catalog_spark.plans import inspect as P

    plan = _formatted_plan(all_queries()["filter_quality_quantile"](spark, sf_dir))
    assert P.has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


def test_bpe_pairs_form_in_row_no_join(spark, sf_dir):
    """Adjacent pairs are built with in-row array ops — the plan must contain
    no join at all and exactly the one pair-count aggregate exchange."""
    plan = _formatted_plan(all_queries()["bpe_pair_counts"](spark, sf_dir))
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_catalog_stats_single_scan(spark, sf_dir):
    """All columns' min/max/ndv/nulls fold in ONE scan of lineitem — the
    UNION-ALL-of-three-scans shape (the oracle's form) must not appear."""
    plan = _formatted_plan(all_queries()["catalog_stats"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_stream_enrich_dim_is_broadcast(spark, sf_dir):
    """The user→segment dimension must broadcast; event rows shuffle only for
    the final segment/type aggregate."""
    from sdg_data_catalog_spark.plans import inspect as P

    plan = _formatted_plan(all_queries()["stream_enrich"](spark, sf_dir))
    assert P.has_broadcast_join(plan)
    assert "SortMergeJoin" not in plan


def test_fits_broadcast_footer_fast_path_and_memoized_count(spark, sf_dir):
    """The q3/q5 broadcast-gate statistics ladder: (a) when the whole base
    table's footer row count is under the bound, NO Spark job runs; (b)
    above the bound one exact count job runs and is memoized — a second
    probe with the same key must not launch another job."""
    from sdg_data_catalog_spark.catalog import table
    from sdg_data_catalog_spark.queries import relational as R

    def job_ids():
        # Set, not count: the status tracker retains a bounded number of
        # job ids (spark.ui.retainedJobs) and EVICTS old ones late in a
        # long suite, so counts are non-monotonic — "did a NEW job run"
        # must be asked as a set difference (eviction only removes ids
        # from the before-set, never adds to the difference).
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return set(ids or [])

    orders = table(spark, sf_dir, "orders")
    # (a) footer fast path: orders at test sf is far under the 4M bound
    before = job_ids()
    assert R._fits_broadcast(sf_dir, "test_footer", "orders", orders) is True
    assert not (job_ids() - before)  # no job — settled from the parquet footer

    # (b) force the count path with a tiny bound: first probe runs ONE job,
    # the second is served from the memo
    key = "test_memo_bound"
    before = job_ids()
    assert R._fits_broadcast(sf_dir, key, "orders", orders, bound=1) is False
    after_first = job_ids()
    assert after_first - before  # the count job ran
    assert R._fits_broadcast(sf_dir, key, "orders", orders, bound=1) is False
    assert not (job_ids() - after_first)  # memoized: no second job
    import os

    assert (os.path.abspath(sf_dir), key) in R._GATE_COUNTS


def test_bucketed_layout_probe_negative(tmp_path):
    """A directory with no bucketed layout must route q5/q18 to the ad-hoc
    plans: the probe is pure filesystem, never builds, and returns False
    for unknown scale dirs."""
    from sdg_data_catalog_spark.queries.scale_ops import bucketed_layout_on_disk

    assert bucketed_layout_on_disk(str(tmp_path / "sf_nonexistent")) is False

"""Physical-plan quality gates (SURVEY §4, 100 TB posture).

These tests pin the *plan*, not the result: pushdown reaching the parquet
scan, column pruning, bounded shuffle counts, grain pre-aggregation before
windows, partition pruning on the partitioned mart. A regression here is a
scale bug even when results stay correct.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.plans.compiler import MetricQuery
from dbt_databricks_metrics_spark.project import build_registry
from dbt_databricks_metrics_spark.specs import MetricViewSpec


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark, build_registry(sf_dir), warehouse_dir=str(tmp_path_factory.mktemp("whq"))
    )
    eng.run(materialize_rollups=True)
    return eng


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_single_shuffle_and_pruned_scan(engine):
    mv = engine.metric_view("mv_order_metrics")
    q = MetricQuery(mv.spec, ("market_segment",), ("total_revenue",))
    df = engine._compiler.compile(q)
    plan = _physical(df)
    # one shuffle: the groupBy. No join at query time (mart is pre-joined).
    assert plan.count("Exchange") == 1, plan[:1500]
    fmt = _formatted(df)
    assert "ReadSchema" in fmt
    read = [l for l in fmt.splitlines() if "ReadSchema" in l][0]
    # column pruning: only the dimension + measure input survive
    assert "market_segment" in read and "total_price" in read
    assert "customer_name" not in read and "order_priority" not in read


def test_spec_filter_pushed_to_parquet(engine):
    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
filter: order_status = 'F'
dimensions:
  - name: market_segment
    expr: market_segment
measures:
  - name: total_revenue
    expr: sum(total_price)
""",
        name="mv_plan_filter",
    )
    mv = engine.register(spec)
    fmt = _formatted(mv.query(["market_segment"], ["total_revenue"]))
    pushed = [l for l in fmt.splitlines() if "PushedFilters" in l]
    assert pushed and "order_status" in pushed[0], fmt[:2000]


def test_partition_pruning_on_year(engine):
    """fct_orders is partitioned by order_year — a year-constrained query
    must prune partitions at scan planning."""
    fct = engine.ref("fct_orders")
    years = [r[0] for r in fct.select("order_year").distinct().collect()]
    assert len(years) > 1
    one = fct.filter(F.col("order_year") == years[0])
    fmt = _formatted(one.select(F.sum("total_price")))
    part_lines = [l for l in fmt.splitlines() if "PartitionFilters" in l]
    assert part_lines and "order_year" in part_lines[0], fmt[:2000]


def test_window_measure_grain_preagg(engine):
    """Decomposable window measures aggregate to the grain BEFORE the
    window sort (the plan shows HashAggregate feeding Window, and at most
    2 exchanges: grain agg + window partition)."""
    mv = engine.metric_view("mv_order_metrics")
    q = MetricQuery(mv.spec, ("market_segment",), ("trailing_7d_revenue",))
    df = engine._compiler.compile(q)
    plan = _physical(df)
    assert plan.count("Exchange") <= 3, plan[:2000]
    assert "Window" in plan
    before_window = plan.split("Window", 1)[1]
    assert "HashAggregate" in before_window  # grain agg below the window


def test_shared_window_measures_one_sort(engine):
    """Two window measures over the same order dimension (trailing 7d +
    cumulative) must share one grain aggregation and one window
    partitioning: a single Window node evaluating both frames, not two
    exchange+sort pairs."""
    mv = engine.metric_view("mv_order_metrics")
    q = MetricQuery(
        mv.spec,
        ("market_segment",),
        ("trailing_7d_revenue", "cumulative_revenue"),
    )
    df = engine._compiler.compile(q)
    plan = _physical(df)
    # grain agg + window partition + final agg; no per-measure duplication
    assert plan.count("Exchange") <= 3, plan[:2500]
    assert plan.count("Window") == 1, plan[:2500]


def test_exact_cover_rollup_zero_exchange(engine):
    """Query dims exactly matching a rollup's dims need no re-aggregation:
    the routed plan is a projection over the stored rows — zero Exchange
    nodes — and still matches the live plan's values."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["market_segment", "order_status"], ["total_revenue", "total_orders"]
    )
    assert route == "rollup:revenue_by_segment"
    plan = _physical(df)
    assert plan.count("Exchange") == 0, plan[:2000]
    q = MetricQuery(
        mv.spec, ("market_segment", "order_status"), ("total_revenue", "total_orders")
    )
    live = {
        (r["market_segment"], r["order_status"]): (r["total_revenue"], r["total_orders"])
        for r in engine._compiler.compile(q).collect()
    }
    routed = {
        (r["market_segment"], r["order_status"]): (r["total_revenue"], r["total_orders"])
        for r in df.collect()
    }
    assert routed.keys() == live.keys()
    for k, (rev, cnt) in routed.items():
        assert cnt == live[k][1]
        assert abs(rev - live[k][0]) <= 1e-6 * max(1.0, abs(live[k][0]))


def test_mixed_query_split_routing(engine):
    """A plain+window query splits: plain measures from the covering
    rollup (in-memory, broadcast); the window side's GRAIN re-aggregates
    from the daily_revenue rollup (WindowGrainProvider) — so the whole
    plan touches NO fact-table scan at all."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(
        ["market_segment"], ["total_revenue", "trailing_7d_revenue", "total_orders"]
    )
    assert route == "rollup:revenue_by_segment+live+grain:daily_revenue"
    plan = _physical(df)
    # both sides read cached rollups (FileScans inside InMemoryRelation are
    # cache-miss provenance, not query-time source passes)
    fact_scans = [
        l for l in plan.splitlines() if "FileScan" in l and "fct_orders" in l
    ]
    assert len(fact_scans) == 0, plan[:2500]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan[:2500]


def test_routed_query_no_source_scan(engine):
    """A rollup-routed query's plan must read the rollup table only —
    the fact table path must not appear in the scan nodes."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(["market_segment"], ["total_revenue"])
    assert route == "rollup:revenue_by_segment"
    fmt = _formatted(df)
    assert "fct_orders" not in fmt


def test_declared_join_broadcasts_dim_side(engine, spark, sf_dir):
    from dbt_databricks_metrics_spark.sources import register_tables

    register_tables(spark, sf_dir, ("nation",))
    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: stg_orders
joins:
  - name: customer
    source: stg_customers
    on: source.customer_id = customer.customer_id
dimensions:
  - name: market_segment
    expr: customer.market_segment
measures:
  - name: n
    expr: count(*)
""",
        name="mv_plan_join",
    )
    mv = engine.register(spec)
    plan = _physical(mv.query(["market_segment"], ["n"]))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lineitem_filter_pushed_and_pruned(engine):
    """Q1 spec filter must reach the lineitem parquet scan as a pushed
    predicate, and only the 4 referenced columns may be read — at 100 TB
    the difference between this and a full-width scan is the whole game."""
    mv = engine.metric_view("mv_lineitem_pricing")
    q = MetricQuery(mv.spec, ("return_flag", "line_status"), ("sum_disc_price",))
    df = engine._compiler.compile(q)
    fmt = _formatted(df)
    read = [l for l in fmt.splitlines() if "ReadSchema" in l][0]
    assert "l_returnflag" in read and "l_extendedprice" in read
    assert "l_partkey" not in read and "l_quantity" not in read
    pushed = [l for l in fmt.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed, pushed
    # a single shuffle (the groupBy); the filter is not a post-scan stage
    assert _physical(df).count("Exchange") == 1


def test_star_broadcasts_all_dim_branches(engine):
    """Every dimension branch of the multi-branch star (part, supplier,
    customer-nation-region chain) must arrive as a broadcast join — a
    shuffle on a broadcast-sized dim is a plan regression."""
    df = engine.metric_view("mv_sales_star").query(
        ["nation_name", "part_brand", "supplier_name"],
        ["revenue", "retail_value"],
    )
    plan = _physical(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    # no sort-merge join at this scale factor
    assert "SortMergeJoin" not in plan


def test_explain_routed_plan(engine):
    """EXPLAIN-parity with rollups materialized (README.md:417-421): the
    routed query's explain names the rollup and its plan never scans the
    fact table."""
    mv = engine.metric_view("mv_order_metrics")
    text = mv.explain(["market_segment"], ["total_revenue"])
    assert text.startswith("== Route ==\nrollup:revenue_by_segment\n"), text[:200]
    assert "Physical Plan" in text
    assert "fct_orders" not in text


def _job_ids(spark, fn) -> list[int]:
    """Spark job ids that *fn* ran, counted through a statusTracker job
    group on this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"plan-gate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan gate")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_exact_cover_routed_read_runs_no_job(engine, spark):
    """A tiny rollup is served from the driver: the first exact-cover read
    after a refresh (driver-side load included) and its WHERE-sliced
    variants with changing literals run ZERO Spark jobs — Catalyst's
    ConvertToLocalRelation evaluates filter + projection over the
    LocalRelation."""
    engine.refresh("mv_order_metrics")
    mv = engine.metric_view("mv_order_metrics")
    rows: list = []
    routes: list = []

    def read():
        for where in (None, "order_status = 'F'", "order_status = 'O'"):
            df, route = mv.query_routed(
                ["market_segment", "order_status"],
                ["total_revenue", "total_orders"],
                where=where,
            )
            routes.append(route)
            rows.append(df.collect())

    assert _job_ids(spark, read) == []
    assert set(routes) == {"rollup:revenue_by_segment"}
    assert rows[0] and {r["order_status"] for r in rows[1]} == {"F"}
    assert {r["order_status"] for r in rows[2]} == {"O"}
    # the served rows are the rollup's answer, not a stale or empty copy
    q = MetricQuery(
        mv.spec, ("market_segment", "order_status"), ("total_revenue", "total_orders")
    )
    live = {
        (r["market_segment"], r["order_status"]): r["total_orders"]
        for r in engine._compiler.compile(q).collect()
    }
    assert {(r["market_segment"], r["order_status"]): r["total_orders"]
            for r in rows[0]} == live


def test_reaggregating_routed_read_plans_no_exchange(engine, spark):
    """Re-aggregating a tiny rollup reads it through coalesce(1): the
    child is SinglePartition, so EnsureRequirements plans no Exchange —
    one job, no shuffle."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(["market_segment"], ["total_revenue"])
    assert route == "rollup:revenue_by_segment"
    jobs = _job_ids(spark, df.collect)
    plan = _physical(df)
    assert "LocalTableScan" in plan, plan[:2000]
    assert plan.count("Exchange") == 0, plan[:2000]
    assert len(jobs) == 1, jobs


def test_trailing_window_grain_read_plans_no_exchange(engine):
    """The trailing-7d grain read from the daily rollup (WindowGrainProvider)
    keeps the window sort and the final reduction inside one partition: no
    Exchange anywhere in the plan."""
    mv = engine.metric_view("mv_order_metrics")
    df, route = mv.query_routed(["market_segment"], ["trailing_7d_revenue"])
    assert route == "live+grain:daily_revenue"
    df.collect()
    plan = _physical(df)
    assert "Window" in plan and "LocalTableScan" in plan, plan[:2500]
    assert plan.count("Exchange") == 0, plan[:2500]


def test_rollup_above_local_limit_keeps_cached_scan(engine, monkeypatch):
    """A rollup with more stored rows than LOCAL_ROLLUP_MAX_ROWS keeps the
    cached parquet scan (and the re-aggregation's Exchange)."""
    import os

    from dbt_databricks_metrics_spark.plans import rollup as rollup_mod

    monkeypatch.setattr(rollup_mod, "LOCAL_ROLLUP_MAX_ROWS", 0)
    mgr = engine._rollups
    view_dir = os.path.join(mgr.storage_dir, "mv_order_metrics")
    mgr._invalidate(view_dir)
    try:
        mv = engine.metric_view("mv_order_metrics")
        df, route = mv.query_routed(["market_segment"], ["total_revenue"])
        assert route == "rollup:revenue_by_segment"
        df.collect()
        plan = _physical(df)
        assert "InMemoryTableScan" in plan, plan[:2000]
        assert "LocalTableScan" not in plan, plan[:2000]
        assert plan.count("Exchange") >= 1, plan[:2000]
    finally:
        mgr._invalidate(view_dir)

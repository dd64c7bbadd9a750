"""Materialization + routing (SURVEY §4, README.md:326-352, 424-431).

The core invariant: a query answered via a rollup is hash-identical to the
same query answered from the live source, for every dim-subset × measure-
subset the rollup covers.
"""

from __future__ import annotations

from itertools import combinations

import pytest

from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.project import build_registry


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = MetricEngine(
        spark,
        build_registry(sf_dir),
        warehouse_dir=str(tmp_path_factory.mktemp("whr")),
    )
    eng.run(materialize_rollups=True)
    return eng


def _rows(df):
    import math

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            if v == 0:
                return 0.0
            return round(v, max(0, 10 - int(math.log10(abs(v)))))
        return str(v)

    return sorted(tuple(norm(x) for x in r) for r in df.collect())


def test_routing_decisions(engine):
    mv = engine.metric_view("mv_order_metrics")
    # covered by revenue_by_segment (dims ⊆ {market_segment, order_status})
    assert (
        mv.explain_routing(["market_segment"], ["total_revenue"])
        == "rollup:revenue_by_segment"
    )
    assert (
        mv.explain_routing(["market_segment", "order_status"], ["total_revenue", "total_orders"])
        == "rollup:revenue_by_segment"
    )
    assert (
        mv.explain_routing(["order_year", "order_month"], ["total_revenue"])
        == "rollup:monthly_revenue"
    )
    # mv_order_metrics' source is a materialized table with plain dims →
    # its `baseline` snapshot would be a byte-identical copy; the build
    # skips it and uncovered queries serve from the live table at the
    # same cost (route = 'live')
    assert mv.explain_routing(["market_segment"], ["max_order_value"]) == "live"
    assert mv.explain_routing(["order_priority"], ["total_revenue"]) == "live"
    # window measures never routed to rollups (README.md:431)
    assert mv.explain_routing(["market_segment"], ["trailing_7d_revenue"]) == "live"

    # mv_orders_simple's source is a VIEW (recomputed per read) → its
    # baseline snapshot is a real cache and uncovered queries route to it
    simple = engine.metric_view("mv_orders_simple")
    assert simple.explain_routing(["order_status"], ["order_count"]) == "rollup:orders_by_status"
    assert simple.explain_routing(["order_priority"], ["total_revenue"]) == "baseline"
    assert simple.explain_routing(["order_status"], ["avg_order_value"]) == "baseline"


def test_non_decomposable_measures_never_routed(engine):
    """count(distinct) / median cannot be served from partial states: the
    router must fall back to live even when the query dims are covered by
    a rollup, and the live answer must match a direct aggregation."""
    mv = engine.metric_view("mv_order_metrics")
    # plain measure over the same dims routes...
    assert (
        mv.explain_routing(["market_segment"], ["total_revenue"])
        == "rollup:revenue_by_segment"
    )
    # ...but mixing in a non-decomposable measure forces live
    for measures in (
        ["distinct_customers"],
        ["median_order_value"],
        ["distinct_customers", "total_revenue"],
    ):
        assert mv.explain_routing(["market_segment"], measures) == "live", measures
    df, route = mv.query_routed(["market_segment"], ["distinct_customers"])
    assert route == "live"
    import pyspark.sql.functions as F

    expected = _rows(
        engine.ref("fct_orders")
        .groupBy("market_segment")
        .agg(F.countDistinct("customer_id").alias("distinct_customers"))
    )
    assert _rows(df) == expected


def test_rollup_scan_is_tiny(engine, spark):
    # BASELINE.md: routed segment query reads ≤ |dim combinations| rows
    state = engine.catalog.get("mv_order_metrics").state
    rollup = state.rollups["revenue_by_segment"]
    n = spark.read.parquet(rollup.path).count()
    seg = engine.ref("fct_orders").select("market_segment").distinct().count()
    st = engine.ref("fct_orders").select("order_status").distinct().count()
    assert n <= seg * st
    assert n <= 20  # 5 segments × ≤4 statuses


def test_rollup_equals_live_invariant(engine):
    """Every covered dim-subset × measure-subset: rollup ≡ live."""
    mv = engine.metric_view("mv_order_metrics")
    rollup_dims = ("market_segment", "order_status")
    rollup_measures = ("total_revenue", "total_orders")
    checked = 0
    for k in range(len(rollup_dims) + 1):
        for dims in combinations(rollup_dims, k):
            for mk in range(1, len(rollup_measures) + 1):
                for meas in combinations(rollup_measures, mk):
                    routed, route = mv.query_routed(list(dims), list(meas))
                    assert route == "rollup:revenue_by_segment", (dims, meas, route)
                    live = engine._compiler.compile(
                        __import__(
                            "dbt_databricks_metrics_spark.plans.compiler",
                            fromlist=["MetricQuery"],
                        ).MetricQuery(mv.spec, dims, meas)
                    )
                    assert _rows(routed) == _rows(live), (dims, meas)
                    checked += 1
    assert checked == 12


def test_avg_from_rollup_partials(engine, spark, tmp_path):
    """avg must be stored as (sum,count) and re-finalized, not averaged."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: market_segment
    expr: market_segment
  - name: order_status
    expr: order_status
measures:
  - name: avg_order_value
    expr: avg(total_price)
materialization:
  materialized_views:
    - name: seg_status
      type: aggregated
      dimensions: [market_segment, order_status]
      measures: [avg_order_value]
""",
        name="mv_avg_rollup",
    )
    mv = engine.register(spec)
    engine.refresh("mv_avg_rollup")
    routed, route = mv.query_routed(["market_segment"], ["avg_order_value"])
    assert route == "rollup:seg_status"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(
        MetricQuery(spec, ("market_segment",), ("avg_order_value",))
    )
    r = {t[0]: float(t[1]) for t in routed.collect()}
    l = {t[0]: float(t[1]) for t in live.collect()}
    assert r.keys() == l.keys()
    for k in r:
        assert abs(r[k] - l[k]) < 1e-9 * max(1.0, abs(l[k]))


def test_baseline_query_matches_live(engine):
    # mv_orders_simple: view-backed source → baseline is a real cache
    mv = engine.metric_view("mv_orders_simple")
    routed, route = mv.query_routed(["order_priority"], ["avg_order_value"])
    assert route == "baseline"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(
        MetricQuery(mv.spec, ("order_priority",), ("avg_order_value",))
    )
    assert _rows(routed) == _rows(live)


def test_window_over_baseline_matches_live(engine):
    """Window measures compiled against a baseline snapshot (flattened
    mode) must equal the live plan — exercised via a view-backed spec."""
    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: stg_orders
dimensions:
  - name: order_status
    expr: order_status
  - name: order_date
    expr: order_date
measures:
  - name: t7
    expr: sum(total_price)
    window:
      - order: order_date
        range: trailing 7 day
        semiadditive: last
materialization:
  materialized_views:
    - name: baseline
      type: unaggregated
""",
        name="mv_win_base",
    )
    mv = engine.register(spec)
    engine.refresh("mv_win_base")
    routed, route = mv.query_routed(["order_status"], ["t7"])
    assert route == "baseline"
    from dbt_databricks_metrics_spark.plans.compiler import MetricQuery

    live = engine._compiler.compile(MetricQuery(spec, ("order_status",), ("t7",)))
    assert _rows(routed) == _rows(live)


def test_create_or_replace_preserves_state(engine):
    """Unchanged spec re-registration keeps rollup state
    (macros/generate_metric_views.sql:78-79)."""
    rv_before = engine.catalog.get("mv_order_metrics")
    state_before = rv_before.state
    assert state_before is not None and state_before.rollups
    engine.register(rv_before.spec)  # CREATE OR REPLACE, unchanged
    assert engine.catalog.get("mv_order_metrics").state is state_before


def test_changed_spec_invalidates_state(engine):
    from dataclasses import replace

    rv = engine.catalog.get("mv_orders_simple")
    engine.refresh("mv_orders_simple")
    assert engine.catalog.get("mv_orders_simple").state is not None
    changed = replace(rv.spec, filter="order_status = 'F'")
    engine.register(changed)
    assert engine.catalog.get("mv_orders_simple").state is None
    # restore for other tests
    engine.register(replace(changed, filter=None))
    engine.refresh("mv_orders_simple")


def test_drop_removes_storage(engine, spark):
    import os

    from dbt_databricks_metrics_spark.specs import MetricViewSpec

    spec = MetricViewSpec.from_yaml(
        """
version: 0.1
source: fct_orders
dimensions:
  - name: order_status
    expr: order_status
measures:
  - name: n
    expr: count(*)
materialization:
  materialized_views:
    - name: by_status
      type: aggregated
      dimensions: [order_status]
      measures: [n]
""",
        name="mv_droppable",
    )
    engine.register(spec)
    engine.refresh("mv_droppable")
    path = engine.catalog.get("mv_droppable").state.rollups["by_status"].path
    assert os.path.exists(path)
    engine.drop("mv_droppable")
    assert not os.path.exists(path)
    assert "mv_droppable" not in engine.catalog
    # DROP IF EXISTS is quiet; plain drop raises
    engine.drop("mv_droppable", if_exists=True)
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.drop("mv_droppable")


def test_explain_route(spark, sf_dir, tmp_path_factory):
    """explain_route reports the chosen source, the reason, and every
    rollup's eligibility — without executing anything."""
    import tempfile

    from dbt_databricks_metrics_spark.engine import MetricEngine
    from dbt_databricks_metrics_spark.project import build_registry

    eng = MetricEngine(
        spark, build_registry(sf_dir), warehouse_dir=tempfile.mkdtemp("xr_wh_")
    )
    eng.run(materialize_rollups=True)
    mv = eng.metric_view("mv_order_metrics")

    ex = mv.explain_route(["market_segment"], ["total_revenue"])
    assert ex["route"] == "rollup:revenue_by_segment"
    assert "stored rows" in ex["reason"]
    assert any(
        c["rollup"] == "revenue_by_segment" and c["status"] == "eligible"
        for c in ex["candidates"]
    )

    exw = mv.explain_route(["market_segment"], ["trailing_7d_revenue"])
    assert not exw["route"].startswith("rollup:")
    assert "window" in exw["reason"]

    exm = mv.explain_route(["order_priority"], ["total_revenue"])
    assert exm["route"] in ("baseline", "live")
    assert any("missing dims" in c["status"] for c in exm["candidates"])

    # agrees with the actual routing decision
    _, route = mv.query_routed(["market_segment"], ["total_revenue"])
    assert route == ex["route"]

    # mixed plain+window: explain mirrors compile_routed's split path
    # ('rollup:<name>+<window route>'), modulo the compile-time
    # '+grain:...' suffix (ADVICE r3)
    exs = mv.explain_route(
        ["market_segment"], ["total_revenue", "trailing_7d_revenue"]
    )
    _, sroute = mv.query_routed(
        ["market_segment"], ["total_revenue", "trailing_7d_revenue"]
    )
    assert sroute.split("+grain:")[0] == exs["route"], (sroute, exs["route"])
    assert "split" in exs["reason"]


def test_build_size_gate_reads_catalyst_estimate(engine, monkeypatch):
    """The two-level build gate reads Catalyst's size estimate through a
    private ``_jdf`` chain. Pin it: the chain must return a real estimate
    for the tiny fixture source (a Spark upgrade that breaks it would
    otherwise fall back silently and flip every build to two-level), and
    a multi-rollup build over that source must take the DIRECT grouping
    sets (no fine-grain pre-aggregation below them)."""
    from dbt_databricks_metrics_spark.plans import rollup as rollup_mod

    rv = engine.catalog.get("mv_order_metrics")
    compiler = engine._compiler
    flat = compiler.baseline_projection(rv.spec, compiler.source_plan(rv.spec))
    est = rollup_mod._estimated_bytes(flat)  # raises if the chain broke
    assert 0 < est < 16 * 1024 * 1024, est

    estimates: list[int] = []
    real_estimate = rollup_mod._estimated_bytes

    def spy_estimate(df):
        estimates.append(real_estimate(df))
        return estimates[-1]

    grouped_over_partials: list[bool] = []
    frame_cls = type(flat)
    real_grouping_sets = frame_cls.groupingSets

    def spy_grouping_sets(self, *args, **kwargs):
        # the two-level shape runs grouping sets over the fine aggregate,
        # whose columns are the partials (_p_*); the direct shape over the
        # flattened source
        grouped_over_partials.append(any(c.startswith("_p_") for c in self.columns))
        return real_grouping_sets(self, *args, **kwargs)

    monkeypatch.setattr(rollup_mod, "_estimated_bytes", spy_estimate)
    monkeypatch.setattr(frame_cls, "groupingSets", spy_grouping_sets)
    engine.refresh("mv_order_metrics")
    assert len(estimates) == 1 and estimates[0] < 16 * 1024 * 1024, estimates
    assert grouped_over_partials == [False]

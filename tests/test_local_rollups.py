"""Driver-side rollup serving (plans/rollup.py, LOCAL_ROLLUP_MAX_ROWS).

A rollup at or below the row limit is read with pyarrow and served as a
LocalRelation. These tests pin what that copy must preserve: the Spark
schema of the stored table (types the parquet file alone cannot tell
apart), the stored values, an ``n_rows`` that tracks every write (it is
the serving gate and the router's cost), and invalidation after every
write path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_databricks_metrics_spark.catalog import CatalogError
from dbt_databricks_metrics_spark.engine import MetricEngine
from dbt_databricks_metrics_spark.plans.rollup import LOCAL_ROLLUP_MAX_ROWS
from dbt_databricks_metrics_spark.specs import MetricViewSpec

TYPED_SPEC = """
version: 0.1
source: typed_src
dimensions:
  - name: seg
    expr: seg
  - name: d
    expr: d
  - name: ts
    expr: ts
  - name: tsn
    expr: tsn
  - name: amount
    expr: amount
measures:
  - name: n
    expr: count(*)
  - name: users
    expr: hll_sketch_estimate(hll_sketch_agg(id))
  - name: top_pair
    expr: element_at(max(array(id, id * 2)), 2)
materialization:
  materialized_views:
    - name: all_dims
      type: aggregated
      dimensions: [seg, d, ts, tsn, amount]
      measures: [n, users, top_pair]
    - name: by_seg
      type: aggregated
      dimensions: [seg]
      measures: [n, users, top_pair]
"""

TYPED_ROWS = """
SELECT * FROM VALUES
  (1, 'A',  DATE'2024-01-01', TIMESTAMP'2024-01-01 10:00:00',
   TIMESTAMP_NTZ'2024-01-01 10:00:00', CAST(1.25 AS DECIMAL(12, 2))),
  (2, 'A',  DATE'2024-01-01', TIMESTAMP'2024-01-01 10:00:00',
   TIMESTAMP_NTZ'2024-01-01 10:00:00', CAST(1.25 AS DECIMAL(12, 2))),
  (3, NULL, NULL, NULL, NULL, NULL),
  (4, 'B',  DATE'1969-07-20', TIMESTAMP'2300-01-01 00:00:00',
   TIMESTAMP_NTZ'2262-04-12 00:00:00', CAST(-99.99 AS DECIMAL(12, 2)))
  AS t(id, seg, d, ts, tsn, amount)
"""


def _ignore_nullability(dt):
    return dt.json().replace('"nullable":false', '"nullable":true').replace(
        '"containsNull":false', '"containsNull":true'
    )


def _stored(spark, built):
    return spark.read.parquet(built.path)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("empty", [False, True], ids=["rows", "zero_rows"])
def test_local_relation_schema_matches_parquet(spark, tmp_path, empty):
    """The LocalRelation's schema equals the stored parquet's (up to
    nullability) — NULL dims, DATE, TIMESTAMP, TIMESTAMP_NTZ, DECIMAL,
    a binary HLL sketch partial and an array partial — and its rows are
    the stored rows, under a non-UTC session time zone too."""
    src = spark.sql(TYPED_ROWS)
    if empty:
        src = src.filter(F.lit(False))
    src.createOrReplaceTempView("typed_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(TYPED_SPEC, name="mv_typed"))
    eng.refresh("mv_typed")
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for built in eng.catalog.get("mv_typed").state.rollups.values():
            if empty:
                assert built.n_rows == 0
            assert built.n_rows <= LOCAL_ROLLUP_MAX_ROWS
            local, is_local = eng._rollups._read_rollup(built)
            assert is_local, built.spec.name
            stored = _stored(spark, built)
            assert _ignore_nullability(local.schema) == _ignore_nullability(
                stored.schema
            ), (local.schema, stored.schema)
            types = {f.name: f.dataType.simpleString() for f in local.schema.fields}
            want = {"seg": "string", "_p_users_0": "binary", "_p_top_pair_0": "array<int>"}
            if built.spec.name == "all_dims":
                want.update(d="date", ts="timestamp", tsn="timestamp_ntz",
                            amount="decimal(12,2)")
            assert want.items() <= types.items(), types
            assert _sorted_rows(local) == _sorted_rows(stored)
            assert local.count() == built.n_rows
        df, route = mv.query_routed(["seg"], ["n", "users", "top_pair"])
        assert route == "rollup:by_seg"
        got = {r["seg"]: (r["n"], r["users"], r["top_pair"]) for r in df.collect()}
        assert got == ({} if empty else {"A": (2, 2, 4), None: (1, 1, 6), "B": (1, 1, 8)})
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


CDC_SPEC = """
version: 0.1
source: loc_src
dimensions:
  - name: seg
    expr: seg
measures:
  - name: n
    expr: count(*)
  - name: cents
    expr: sum(cents)
materialization:
  materialized_views:
    - name: by_seg
      type: aggregated
      dimensions: [seg]
      measures: [n, cents]
"""


def _src(spark, rows):
    return spark.createDataFrame(rows, "id long, seg string, cents long")


def _served(mv):
    df, route = mv.query_routed(["seg"], ["n", "cents"])
    assert route == "rollup:by_seg"
    return {r["seg"]: (r["n"], r["cents"]) for r in df.collect()}


def _cached_paths(eng, name):
    root = os.path.join(eng._rollups.storage_dir, name)
    return [p for p in eng._rollups._df_cache if p.startswith(root + os.sep)]


def test_folds_keep_n_rows_equal_to_stored_rows(spark, tmp_path):
    """Incremental and CDC folds that add (and prune) dim combinations
    leave n_rows equal to the parquet row count — the serving gate, the
    router's smallest-rollup pick and explain_route all read it."""
    _src(spark, [(1, "A", 100), (2, "B", 200)]).createOrReplaceTempView("loc_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(CDC_SPEC, name="mv_loc"))
    eng.refresh("mv_loc")
    built = eng.catalog.get("mv_loc").state.rollups["by_seg"]
    assert built.n_rows == 2

    eng.refresh_incremental(
        "mv_loc", _src(spark, [(3, "C", 300), (4, "D", 400), (5, "A", 1)])
    )
    assert built.n_rows == _stored(spark, built).count() == 4
    assert "4 stored rows" in mv.explain_route(["seg"], ["n"])["reason"]

    # delete B's only row (pruned), insert E and F
    eng.refresh_cdc(
        "mv_loc",
        before=_src(spark, [(2, "B", 200)]),
        after=_src(spark, [(6, "E", 600), (7, "F", 700)]),
    )
    assert built.n_rows == _stored(spark, built).count() == 5
    assert eng.catalog.describe("mv_loc")["materialized"]["rollups"]["by_seg"]["rows"] == 5


def test_streaming_fold_keeps_n_rows(spark, tmp_path):
    """streaming_rollup's per-batch fold records the stored rows too."""
    from dbt_databricks_metrics_spark.streaming.refresh import streaming_rollup

    _src(spark, [(1, "A", 100)]).createOrReplaceTempView("loc_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    eng.register(MetricViewSpec.from_yaml(CDC_SPEC, name="mv_loc"))
    eng.refresh("mv_loc")
    built = eng.catalog.get("mv_loc").state.rollups["by_seg"]
    src_dir = str(tmp_path / "stream_src")
    _src(spark, [(2, "B", 1), (3, "C", 2), (4, "A", 3)]).write.parquet(src_dir)
    q = streaming_rollup(spark, built, src_dir, checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination(120)
    assert built.n_rows == _stored(spark, built).count() == 3


def test_every_write_path_invalidates_the_local_copy(spark, tmp_path):
    """After refresh, refresh_incremental, refresh_cdc and drop, no served
    copy of the view's rollups survives, and the next routed read returns
    the new rows."""
    _src(spark, [(1, "A", 100)]).createOrReplaceTempView("loc_src")
    eng = MetricEngine(spark, warehouse_dir=str(tmp_path / "wh"))
    mv = eng.register(MetricViewSpec.from_yaml(CDC_SPEC, name="mv_loc"))
    eng.refresh("mv_loc")
    assert _served(mv) == {"A": (1, 100)}
    assert eng._rollups._df_cache[_cached_paths(eng, "mv_loc")[0]][1]  # local

    _src(spark, [(1, "A", 100), (2, "B", 5)]).createOrReplaceTempView("loc_src")
    eng.refresh("mv_loc")
    assert _cached_paths(eng, "mv_loc") == []
    assert _served(mv) == {"A": (1, 100), "B": (1, 5)}

    eng.refresh_incremental("mv_loc", _src(spark, [(3, "C", 7)]))
    assert _cached_paths(eng, "mv_loc") == []
    assert _served(mv) == {"A": (1, 100), "B": (1, 5), "C": (1, 7)}

    eng.refresh_cdc(
        "mv_loc",
        before=_src(spark, [(1, "A", 100)]),
        after=_src(spark, [(1, "A", 150)]),
    )
    assert _cached_paths(eng, "mv_loc") == []
    assert _served(mv) == {"A": (1, 150), "B": (1, 5), "C": (1, 7)}

    eng.drop("mv_loc")
    assert _cached_paths(eng, "mv_loc") == []
    with pytest.raises(CatalogError):
        eng.metric_view("mv_loc")

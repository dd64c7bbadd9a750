"""MetricEngine — the whole lifecycle on one SparkSession.

Ties together the model DAG runner (``dbt run``), the metric-view catalog
(``on-run-end`` registration, ``dbt_project.yml:19-21``), rollup
materialization + routing, and the query API. The reference splits these
across dbt, Jinja macros, a REST refresh script, and the Databricks
warehouse; here it is one Python control plane over Catalyst.

Typical use::

    eng = MetricEngine(spark, registry, warehouse_dir="/tmp/wh")
    eng.run()                          # build models, register metric views
    mv = eng.metric_view("mv_order_metrics")
    df = mv.query(dimensions=["market_segment"],
                  measures=["total_revenue", "total_orders"])
    eng.refresh("mv_order_metrics")    # rebuild rollups (O5, SURVEY §2.7)
"""

from __future__ import annotations

import os
from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from .catalog import MetricViewCatalog, RegisteredView
from .models import ModelRegistry, Runner
from .plans.compiler import MetricQuery, QueryCompiler, QueryError
from .plans.rollup import RollupManager
from .specs import MetricViewSpec


def _order_col(spec: str):
    """Parse an ``order_by`` entry: a result-column name with an optional
    trailing ``asc``/``desc`` (case-insensitive)."""
    from pyspark.sql import functions as F

    parts = spec.split()
    if len(parts) == 2 and parts[1].lower() in ("asc", "desc"):
        return F.desc(parts[0]) if parts[1].lower() == "desc" else F.asc(parts[0])
    if len(parts) != 1:
        raise QueryError(f"bad order_by entry {spec!r}: expected 'col [asc|desc]'")
    return F.col(spec)


def explain_string_with_route(df: DataFrame, route: str, mode: str = "formatted") -> str:
    """Routing decision + Spark explain output — shared by
    :meth:`MetricView.explain` and the SQL front-end's ``EXPLAIN`` so the
    route-header contract (and the one PythonSQLUtils call site) lives in
    exactly one place."""
    plan = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )
    return f"== Route ==\n{route}\n\n{plan}"


class MetricView:
    """Queryable handle — the analyst-facing surface of one metric view."""

    def __init__(self, engine: "MetricEngine", rv: RegisteredView) -> None:
        self._engine = engine
        self._rv = rv

    @property
    def spec(self) -> MetricViewSpec:
        return self._rv.spec

    def query(
        self,
        dimensions: Sequence[str] = (),
        measures: Sequence[str] = (),
        where: Optional[str] = None,
        having: Optional[str] = None,
        order_by: Optional[Sequence[str]] = None,
        limit: Optional[int] = None,
    ) -> DataFrame:
        """``SELECT dims, MEASURE(measures) FROM mv [WHERE …] GROUP BY dims
        [HAVING …] [ORDER BY …] [LIMIT n]``.

        *where* is a predicate over **declared dimensions** — grouped or
        not. It slices the (filtered, joined) source before measure
        expansion, so ``WHERE order_status = 'F'`` with ``GROUP BY
        market_segment`` aggregates only the matching rows (the platform's
        metric-view WHERE semantics). Routing only uses rollups whose dims
        cover the slice's dims as well.

        *having* filters the aggregated result; it may reference any
        selected dimension or measure by name (SQL HAVING semantics — the
        route is unaffected, the predicate runs over the result rows).

        *order_by* entries are result-column names, optionally suffixed
        with ``desc``/``asc`` (``"total_revenue desc"``). With *limit*,
        Spark compiles the pair to TakeOrderedAndProject — per-partition
        top-n heaps, no global sort — so top-k stays cheap at any scale.
        """
        df, _route = self.query_routed(dimensions, measures, where=where,
                                       having=having)
        if order_by:
            df = df.orderBy(*[_order_col(o) for o in order_by])
        if limit is not None:
            df = df.limit(limit)
        return df

    def query_routed(
        self,
        dimensions: Sequence[str] = (),
        measures: Sequence[str] = (),
        where: Optional[str] = None,
        having: Optional[str] = None,
        log_workload: bool = True,
    ) -> tuple[DataFrame, str]:
        """Like :meth:`query` but also returns the chosen route
        ('rollup:<name>' | 'baseline' | 'live') — the EXPLAIN-visible
        routing decision of ``README.md:417-431``. ``log_workload=False``
        skips the served-workload record (explain-type callers: an
        EXPLAINed query was never served, so the rollup advisor must not
        propose materializing for it — the explain_route contract)."""
        q = MetricQuery(self.spec, tuple(dimensions), tuple(measures), where=where)
        df, route = self._engine._rollups.compile_routed(q, self._rv.state)
        # the workload log records the STORAGE shape: derived measures
        # expand to their dependencies, so the rollup advisor proposes
        # materializing what routing actually needs (derived values are
        # never materializable)
        if log_workload:
            from .plans.compiler import expand_derived

            logged, _ = expand_derived(q)
            shape = (
                tuple(dimensions),
                tuple(logged.measures),
                tuple(getattr(q, "where_dims", ())),
            )
            with self._engine._query_log_lock:
                from collections import Counter

                self._engine._query_log.setdefault(self.spec.name, Counter())[
                    shape
                ] += 1
        if having:
            self._validate_having(having, dimensions, measures)
            from pyspark.sql import functions as F

            df = df.filter(F.expr(having))
        return df, route

    def explain_route(
        self,
        dimensions: Sequence[str] = (),
        measures: Sequence[str] = (),
        where: Optional[str] = None,
    ) -> dict:
        """Why a query routes where it does — the analyst-facing
        counterpart of ``query_routed``'s route string. Returns a dict:
        ``route``, ``candidates`` (every rollup with its stored row count
        and whether/why it was eligible), and ``reason`` (windowed
        measures, unresolved WHERE columns, no covering rollup, …).
        Pure metadata — nothing is executed or logged."""
        q = MetricQuery(self.spec, tuple(dimensions), tuple(measures), where=where)
        # mirror compile_routed: derived measures route (and explain) via
        # their dependency query, so the explained route string matches
        # query_routed's for the same request
        from .plans.compiler import expand_derived

        requested = tuple(q.measures)
        q, _derived_proj = expand_derived(q)
        state = self._rv.state
        spec = self.spec
        need_dims = set(q.dimensions) | set(getattr(q, "where_dims", ()))
        windowed = [m for m in q.measures if spec.measure(m).is_windowed]
        candidates = []
        if state is not None:
            for b in state.rollups.values():
                dims_ok = need_dims <= set(b.spec.dimensions)
                meas_ok = set(q.measures) <= set(b.spec.measures)
                why = (
                    "eligible"
                    if dims_ok and meas_ok and not windowed
                    else "window measures never rollup-serve"
                    if windowed
                    else "missing dims: %s"
                    % sorted(need_dims - set(b.spec.dimensions))
                    if not dims_ok
                    else "missing measures: %s"
                    % sorted(set(q.measures) - set(b.spec.measures))
                )
                candidates.append(
                    {
                        "rollup": b.spec.name,
                        "n_rows": b.n_rows,
                        "dimensions": list(b.spec.dimensions),
                        "status": why,
                    }
                )
        route, best = self._engine._rollups.route(q, state)
        if route == "rollup":
            reason = (
                f"smallest covering rollup ({best.n_rows} stored rows)"
            )
            route = f"rollup:{best.spec.name}"
        elif windowed:
            # mirror compile_routed's split-mixed path: a mixed plain+window
            # query whose PLAIN subset has a covering rollup is served as
            # 'rollup:<name>+<window route>' (the window side compiles on
            # the fly and joins on the query dims). Any '+grain:...' suffix
            # query_routed may add is a compile-time detail (which stored
            # grain the window plan read) and is not predicted here.
            plain = tuple(m for m in q.measures if not spec.measure(m).is_windowed)
            split_name = None
            if plain and state is not None:
                pq = MetricQuery(spec, q.dimensions, plain, where=where)
                proute, pbuilt = self._engine._rollups.route(pq, state)
                if proute == "rollup":
                    split_name = pbuilt.spec.name
            if split_name is not None:
                wroute = "baseline" if state.baseline else "live"
                route = f"rollup:{split_name}+{wroute}"
                reason = (
                    f"mixed query split: plain measures from rollup "
                    f"{split_name}, windowed measures {windowed} compile "
                    f"on the fly and join on the query dims"
                )
            else:
                reason = f"windowed measures {windowed} compile on the fly"
        elif getattr(q, "where_unresolved", False):
            reason = "WHERE references raw source columns (not dims)"
        elif not candidates:
            reason = "no rollups materialized"
        else:
            reason = "no rollup covers the requested dims+measures"
        if _derived_proj is not None:
            # name the DERIVED measures the caller asked for and the
            # dependency measures expansion added — not the full expanded
            # set (which mostly repeats plain requested measures, ADVICE r4)
            derived = [
                m for m in requested if self.spec.measure(m).derived
            ]
            added = [m for m in q.measures if m not in requested]
            reason += (
                f"; derived measures {derived} served from "
                f"dependency measures (expansion added {added})"
            )
        return {"route": route, "reason": reason, "candidates": candidates}

    def observed_workload(self) -> list["WorkloadQuery"]:
        """The query shapes this view has actually served (recorded by
        ``query_routed``), deduped with weight = times seen — the
        self-tuning advisor input: run the real queries, then
        ``advise_rollups(apply=True)`` with no hand-written workload."""
        from collections import Counter

        from .plans.advisor import WorkloadQuery

        with self._engine._query_log_lock:
            shapes = Counter(self._engine._query_log.get(self.spec.name, Counter()))
        return [
            WorkloadQuery(dims, meas, weight=n, where_dims=wdims)
            for (dims, meas, wdims), n in sorted(shapes.items())
        ]

    def advise_rollups(
        self,
        workload: Optional[Sequence["WorkloadQuery"]] = None,
        max_rollups: int = 3,
        apply: bool = False,
        consider_existing: bool = True,
        max_total_rows: Optional[int] = None,
    ) -> list["AdvisorChoice"]:
        """Materialized-view selection for this view ([EXT beyond the
        reference] — the reference hand-lists rollup grains; this derives
        them from the workload via the HRU greedy, see
        ``plans/advisor.py``). *workload* defaults to
        :meth:`observed_workload` (the served-query log). With
        *consider_existing* (default) already-built rollups seed each
        query's starting cost, so the advice is the INCREMENTAL value on
        top of what the router can already serve. With ``apply=True`` the
        advised grains are built immediately and become routable exactly
        like declared ``materialized_views:`` entries."""
        from .plans.advisor import advise, to_rollup_specs
        from .plans.rollup import MaterializationState

        if workload is None:
            workload = self.observed_workload()
        if not workload:
            return []
        spec = self.spec
        compiler = self._engine._compiler
        src = compiler.source_plan(spec)
        flat = compiler.baseline_projection(spec, src)
        existing: list[tuple[tuple[str, ...], tuple[str, ...], int]] = []
        if consider_existing and self._rv.state is not None:
            for b in self._rv.state.rollups.values():
                if b.n_rows is not None:
                    existing.append(
                        (tuple(b.spec.dimensions), tuple(b.spec.measures), b.n_rows)
                    )
        choices = advise(
            spec,
            flat,
            workload,
            max_rollups=max_rollups,
            existing=existing,
            max_total_rows=max_total_rows,
        )
        if apply and choices:
            if self._rv.state is None:
                self._rv.state = MaterializationState()
            for r in to_rollup_specs(spec, choices, workload):
                built = self._engine._rollups._build_aggregated(spec, r, src)
                self._rv.state.rollups[r.name] = built
        return choices

    def _validate_having(
        self, having: str, dimensions: Sequence[str], measures: Sequence[str]
    ) -> None:
        """HAVING runs over the result, so every bare identifier must be a
        selected dimension or measure — anything else would silently
        resolve against engine internals or fail deep inside Catalyst."""
        from .plans.compiler import _SQL_WHERE_VOCAB, _identifier_tokens

        selected = set(dimensions) | set(measures)
        for tok, is_call in _identifier_tokens(having):
            if is_call or tok.lower() in _SQL_WHERE_VOCAB:
                continue
            if tok not in selected:
                raise QueryError(
                    f"HAVING references {tok!r}, which is not among the "
                    f"selected dimensions/measures {sorted(selected)}"
                )

    def query_pop(
        self,
        dimensions: Sequence[str],
        measures: Sequence[str],
        order_dim: str,
        lag: int = 1,
        where: Optional[str] = None,
    ) -> DataFrame:
        """Period-over-period comparison [EXT beyond the reference]: the
        routed ``GROUP BY dimensions + order_dim`` result, with each
        measure's value from ``lag`` periods earlier plus delta and
        percent change (``NULL`` where no prior period / prior is 0).

        Periods are the distinct ``order_dim`` values present, in order —
        the same positional-lag semantics as SQL ``LAG() OVER (PARTITION
        BY dims ORDER BY order_dim)``. The window runs over the
        *aggregated* result (|dims × periods| rows, partitioned by the
        non-order dims), so it rides whatever route — rollup, baseline or
        live — the base query takes; no extra source scan."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if order_dim in dimensions:
            raise QueryError(f"order_dim {order_dim!r} must not repeat in dimensions")
        if lag < 1:
            raise QueryError(f"lag must be >= 1, got {lag}")
        df = self.query([*dimensions, order_dim], measures, where=where)
        w = Window.partitionBy(*dimensions).orderBy(F.col(order_dim))
        cols = [F.col(c) for c in (*dimensions, order_dim, *measures)]
        for m in measures:
            prev = F.lag(m, lag).over(w)
            cols += [
                prev.alias(f"{m}_prev"),
                (F.col(m) - prev).alias(f"{m}_delta"),
                ((F.col(m) - prev) / F.nullif(prev, F.lit(0))).alias(f"{m}_pct"),
            ]
        return df.select(*cols)

    def query_anomalies(
        self,
        dimensions: Sequence[str],
        measures: Sequence[str],
        order_dim: str,
        z: float = 3.0,
        where: Optional[str] = None,
    ) -> DataFrame:
        """Metric anomaly flags [EXT beyond the reference]: the routed
        ``GROUP BY dimensions + order_dim`` series with each period's
        z-score against its own series' mean / population std, and a
        boolean flag at ``|z| >= z`` — the standard first monitor on a
        semantic-layer metric (spike/drop detection per segment).

        The stats window runs over the *aggregated* result
        (|dims × periods| rows, partitioned by the non-order dims), so it
        rides whatever route the base query takes — no extra source scan.
        A constant series has std 0 and yields NULL z (no division
        noise), hence no anomaly rows."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if order_dim in dimensions:
            raise QueryError(f"order_dim {order_dim!r} must not repeat in dimensions")
        if z <= 0:
            raise QueryError(f"z must be > 0, got {z}")
        df = self.query([*dimensions, order_dim], measures, where=where)
        w = Window.partitionBy(*[F.col(d) for d in dimensions])
        cols = [F.col(c) for c in (*dimensions, order_dim, *measures)]
        for m in measures:
            mean = F.avg(m).over(w)
            sd = F.stddev_pop(m).over(w)
            zc = (F.col(m) - mean) / F.nullif(sd, F.lit(0.0))
            cols += [
                zc.alias(f"{m}_z"),
                (F.abs(zc) >= F.lit(float(z))).alias(f"{m}_anomaly"),
            ]
        return df.select(*cols)

    def query_anomalies_robust(
        self,
        dimensions: Sequence[str],
        measures: Sequence[str],
        order_dim: str,
        k: float = 3.0,
        where: Optional[str] = None,
    ) -> DataFrame:
        """Hampel-style robust anomaly flags [EXT beyond the reference]:
        median / MAD instead of mean / std (Leys et al. 2013; Pearson
        2002 "hampel filter") — a genuine spike inflates a z-score's own
        std and can mask itself, but barely moves the median and MAD.
        Per measure: ``<m>_rz`` = (x − median) / (1.4826 · MAD) and
        ``<m>_outlier`` at |rz| >= k. A series whose majority value
        repeats has MAD 0 → NULL rz and NULL flag (query_anomalies'
        constant-series convention).

        Same shape as query_anomalies: exact-median windows run over the
        AGGREGATED |dims × periods| result partitioned by the non-order
        dims, so the detector rides whatever route the base query takes.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if order_dim in dimensions:
            raise QueryError(f"order_dim {order_dim!r} must not repeat in dimensions")
        if k <= 0:
            raise QueryError(f"k must be > 0, got {k}")
        out = self.query([*dimensions, order_dim], measures, where=where)
        w = Window.partitionBy(*[F.col(d) for d in dimensions])
        # median and MAD are staged projections: a window aggregate can't
        # take another window expression as its argument in one select
        for m in measures:
            out = out.withColumn(
                f"_med_{m}", F.percentile(F.col(m), F.lit(0.5)).over(w)
            )
        for m in measures:
            out = out.withColumn(
                f"_mad_{m}",
                F.percentile(
                    F.abs(F.col(m) - F.col(f"_med_{m}")), F.lit(0.5)
                ).over(w),
            )
        cols = [F.col(c) for c in (*dimensions, order_dim, *measures)]
        for m in measures:
            sigma = F.lit(1.4826) * F.col(f"_mad_{m}")
            rz = (F.col(m) - F.col(f"_med_{m}")) / F.nullif(sigma, F.lit(0.0))
            cols += [
                rz.alias(f"{m}_rz"),
                (F.abs(rz) >= F.lit(float(k))).alias(f"{m}_outlier"),
            ]
        return out.select(*cols)

    def query_filled(
        self,
        dimensions: Sequence[str],
        measures: Sequence[str],
        time_dim: str,
        step: str = "day",
        fill: Optional[Any] = 0,
        where: Optional[str] = None,
    ) -> DataFrame:
        """Time-spine densified query [EXT beyond the reference]: the
        routed ``GROUP BY dimensions + time_dim`` result, completed so
        EVERY period between the result's min and max ``time_dim`` exists
        for every dimension combination, with absent measures filled with
        *fill* (``None`` keeps NULL — right for non-additive measures).

        The spine is calendar-bounded (a 1-row min/max aggregate exploded
        through ``sequence()``, broadcast against the distinct groups), so
        densification adds no data-sized shuffle beyond the output itself;
        the underlying aggregate rides its normal route.
        """
        from .operators.spine import fill_time_gaps

        if time_dim in dimensions:
            raise QueryError(f"time_dim {time_dim!r} must not repeat in dimensions")
        df = self.query([*dimensions, time_dim], measures, where=where)
        fills = None if fill is None else {m: fill for m in measures}
        return fill_time_gaps(
            df, time_dim, group_cols=tuple(dimensions), step=step, fill=fills
        )

    def query_pivot(
        self,
        dimensions: Sequence[str],
        pivot_dim: str,
        measures: Sequence[str],
        where: Optional[str] = None,
        values: Optional[Sequence[Any]] = None,
    ) -> DataFrame:
        """Crosstab [EXT beyond the reference]: the routed ``GROUP BY
        dims + pivot_dim`` result reshaped so every (measure × pivot
        value) pair is its own column (``<measure>_<value>``) — the BI
        matrix view of a metric.

        The pivot is POST-aggregation: it reshapes the |dims × values|
        aggregated rows, so it rides whatever route the base query takes
        and adds no data-sized work. Pass *values* to pin the columns
        (and skip the discovery job); otherwise they're discovered from
        the aggregated result and sorted, so the column order is
        deterministic. Missing (dims, value) combinations surface as
        NULL cells.
        """
        from pyspark.sql import functions as F

        if pivot_dim in dimensions:
            raise QueryError(f"pivot_dim {pivot_dim!r} must not repeat in dimensions")
        df = self.query([*dimensions, pivot_dim], measures, where=where)
        if values is None:
            # NULL pivot values are excluded: Spark names their pivoted
            # column 'null', which can't round-trip through the
            # <measure>_<value> naming — coalesce the dimension to a
            # sentinel first if NULL groups matter
            values = [
                r[0]
                for r in df.select(pivot_dim)
                .filter(F.col(pivot_dim).isNotNull())
                .distinct()
                .orderBy(pivot_dim)
                .collect()
            ]
        else:
            values = list(values)
            if any(v is None for v in values):
                raise QueryError(
                    "query_pivot: values must not contain None — coalesce "
                    f"{pivot_dim!r} to a sentinel value instead"
                )
        gb = df.groupBy(*[F.col(d) for d in dimensions])
        pivoted = gb.pivot(pivot_dim, values).agg(
            *[F.first(m).alias(m) for m in measures]
        )
        # normalize Spark's pivot naming ("<value>" for one measure,
        # "<value>_<measure>" for several) to "<measure>_<value>"
        renames: dict[str, str] = {}
        for v in values:
            if len(measures) == 1:
                renames[str(v)] = f"{measures[0]}_{v}"
            else:
                for m in measures:
                    renames[f"{v}_{m}"] = f"{m}_{v}"
        out = pivoted
        for old, new in renames.items():
            out = out.withColumnRenamed(old, new)
        ordered = [*dimensions] + [f"{m}_{v}" for m in measures for v in values]
        return out.select(*ordered)

    def query_share(
        self,
        dimensions: Sequence[str],
        measures: Sequence[str],
        where: Optional[str] = None,
    ) -> DataFrame:
        """Percent-of-total [EXT beyond the reference]: the routed query
        result plus a ``<measure>_share`` column per measure — each row's
        fraction of the measure's total over the result set (NULL when the
        total is 0).

        Totals come from a 1-row re-aggregation of the result cross-joined
        back (a broadcast of one row) — NOT an unpartitioned window, which
        would funnel every result row through a single task at scale.
        """
        from pyspark.sql import functions as F

        df = self.query(dimensions, measures, where=where)
        totals = df.agg(
            *[F.sum(m).alias(f"_total_{m}") for m in measures]
        )
        out = df.crossJoin(F.broadcast(totals))
        for m in measures:
            out = out.withColumn(
                f"{m}_share",
                F.col(m) / F.nullif(F.col(f"_total_{m}"), F.lit(0)),
            )
        return out.drop(*[f"_total_{m}" for m in measures])

    def explain_routing(
        self,
        dimensions: Sequence[str],
        measures: Sequence[str],
        where: Optional[str] = None,
    ) -> str:
        q = MetricQuery(self.spec, tuple(dimensions), tuple(measures), where=where)
        route, built = self._engine._rollups.route(q, self._rv.state)
        return f"rollup:{built.spec.name}" if route == "rollup" else route

    def explain(
        self,
        dimensions: Sequence[str] = (),
        measures: Sequence[str] = (),
        where: Optional[str] = None,
        mode: str = "formatted",
    ) -> str:
        """Routing decision + physical plan, as a string — the analogue of
        the reference's ``EXPLAIN SELECT … MEASURE(…)`` routing check
        (``README.md:417-421``): the first line names the chosen physical
        source (rollup / baseline / live, plus any window-grain rollups),
        the rest is Spark's explain output for the compiled plan.
        Explain-only: the served-workload log is NOT written (the
        explain_route contract — the advisor must not see explained-but-
        never-run shapes)."""
        df, route = self.query_routed(
            dimensions, measures, where=where, log_workload=False
        )
        return explain_string_with_route(df, route, mode)

    def describe(self) -> dict[str, Any]:
        return self._engine.catalog.describe(self.spec.name)


class MetricEngine:
    def __init__(
        self,
        spark: SparkSession,
        registry: Optional[ModelRegistry] = None,
        warehouse_dir: Optional[str] = None,
    ) -> None:
        self.spark = spark
        self.registry = registry or ModelRegistry()
        self.warehouse_dir = warehouse_dir
        self.catalog = MetricViewCatalog()
        self._runner = Runner(spark, self.registry, warehouse_dir=warehouse_dir)
        self._compiler = QueryCompiler(resolve=self._resolve)
        rollup_dir = os.path.join(warehouse_dir or "/tmp/metric_engine", "_rollups")
        self._rollups = RollupManager(spark, self._compiler, storage_dir=rollup_dir)
        # observed (dims, measures, where_dims) -> hit count per view — the
        # advisor's default workload. A Counter keyed by shape is bounded by
        # the number of DISTINCT shapes (not queries served), so a
        # long-lived engine cannot leak memory, and the lock makes
        # concurrent query_routed calls safe (ADVICE r2).
        import threading
        from collections import Counter

        self._query_log: dict[
            str, Counter[tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]]]
        ] = {}
        self._query_log_lock = threading.Lock()

    # ---------------- name resolution ----------------

    def _resolve(self, name: str) -> DataFrame:
        """Resolve a source reference: built model first, then Spark table."""
        try:
            return self._runner.ref(name)
        except Exception:
            return self.spark.table(name)

    # ---------------- lifecycle ----------------

    def run(
        self,
        select: Optional[list[str]] = None,
        materialize_rollups: bool = False,
    ) -> dict[str, DataFrame]:
        """``dbt run``: build models topologically, then (on-run-end hook)
        register every model's declared metric view
        (``dbt_project.yml:19-21``; walk ≡
        ``macros/generate_metric_views.sql:19-29``)."""
        built = self._runner.run(select=select)
        to_refresh: list[str] = []
        for name in self.registry.names():
            model = self.registry[name]
            mv_meta = model.meta.get("metric_view")
            if not mv_meta or not mv_meta.get("enabled", False):
                continue
            spec = self._spec_from_meta(model.name, mv_meta)
            self.register(spec)
            if materialize_rollups and spec.materialization:
                to_refresh.append(spec.name)
        self._refresh_many(to_refresh)
        # exposures validate AFTER the on-run-end hook: a dashboard may
        # legitimately depend on a metric view that only now exists
        self.registry.check_exposures(known_extra=self.catalog.names())
        return built

    def _refresh_many(self, names: Sequence[str]) -> None:
        """Refresh several views' rollups concurrently — each build is an
        independent Spark job chain, and the scheduler interleaves them
        (same pattern a Lakeflow pipeline uses for independent flows)."""
        if len(names) <= 1:
            for n in names:
                self.refresh(n)
            return
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(4, len(names))) as ex:
            futures = {n: ex.submit(self.refresh, n) for n in names}
            for n in names:
                futures[n].result()

    def _spec_from_meta(self, model_name: str, mv: dict[str, Any]) -> MetricViewSpec:
        """Both input modes of ``macros/generate_metric_views.sql:40-76``."""
        name = mv.get("name") or f"mv_{model_name}"
        desc = mv.get("description")
        # `source` in the meta overrides the attaching model — lets a dim
        # model declare a star MV whose __SOURCE__ is the fact table
        src = mv.get("source") or model_name
        if "yaml" in mv:  # raw YAML mode with __SOURCE__ substitution
            return MetricViewSpec.from_yaml(
                mv["yaml"], name=name, source=src, description=desc
            )
        return MetricViewSpec.from_structured(
            mv, name=name, source=src, description=desc
        )

    def register(self, spec: MetricViewSpec) -> MetricView:
        rv = self.catalog.register(spec)
        return MetricView(self, rv)

    def drop(self, name: str, if_exists: bool = False) -> None:
        rv = self.catalog.drop(name, if_exists=if_exists)
        if rv is not None:
            self._rollups.drop(name)

    def metric_view(self, name: str) -> MetricView:
        return MetricView(self, self.catalog.get(name))

    def query_across(
        self,
        dimensions: Sequence[str],
        measures: Sequence[tuple[str, str]],
        how: str = "full",
    ) -> DataFrame:
        """Drill-across [EXT beyond the reference]: one result over
        CONFORMED dimensions, with measures drawn from SEVERAL metric
        views (the Kimball drill-across pattern — e.g. orders revenue
        next to customer counts, keyed by market_segment).

        *measures* is ``[(view_name, measure_name), ...]``; every named
        view must declare every ``dimensions`` entry (conformance is
        checked, not assumed). Each view's routed aggregate runs
        independently — riding its own rollups — and the per-view
        results merge with an outer equi-join on the dimension values
        (tiny relations: |dim combos| rows each, broadcast-joined).
        Ambiguous measure names keep a ``<view>_`` prefix only when two
        views contribute the same measure name.
        """
        if not dimensions:
            raise QueryError("query_across needs at least one conformed dimension")
        if not measures:
            raise QueryError("query_across needs at least one (view, measure)")
        if how not in ("full", "inner"):
            raise QueryError(f"how must be full|inner, got {how!r}")
        by_view: dict[str, list[str]] = {}
        for view, m in measures:
            by_view.setdefault(view, []).append(m)
        for view in by_view:
            spec = self.catalog.get(view).spec
            missing = [d for d in dimensions if d not in spec.dimension_names]
            if missing:
                raise QueryError(
                    f"dimension(s) {missing} are not conformed: metric view "
                    f"{view!r} does not declare them"
                )
        name_counts: dict[str, int] = {}
        for _, m in measures:
            name_counts[m] = name_counts.get(m, 0) + 1

        out: Optional[DataFrame] = None
        for view, ms in by_view.items():
            part = MetricView(self, self.catalog.get(view)).query(dimensions, ms)
            renames = {
                m: (f"{view}_{m}" if name_counts[m] > 1 else m) for m in ms
            }
            part = part.select(
                *dimensions, *[part[m].alias(renames[m]) for m in ms]
            )
            out = part if out is None else out.join(part, list(dimensions), how)
        return out

    def refresh(self, name: str) -> None:
        """Rebuild the view's rollups (≡ pipeline ``start_update``,
        ``scripts/refresh_metric_views.py:109-119``)."""
        rv = self.catalog.get(name)
        src_materialized = (
            rv.spec.source in self.registry
            and self.registry[rv.spec.source].materialized == "table"
        )
        rv.state = self._rollups.build(
            rv.spec, rv.state, source_is_materialized=src_materialized
        )

    def refresh_incremental(self, name: str, delta_source_rows: DataFrame) -> None:
        """Fold new source rows into the view's rollups without a full
        recompute (``rollup(S ∪ ΔS) = merge(rollup(S), rollup(ΔS))`` —
        the reference's "incremental refresh whenever possible",
        ``README.md:118``). *delta_source_rows* must be the new rows in
        the shape of the view's filtered+joined source (e.g. the latest
        date partition). The baseline snapshot, if any, gets the delta
        appended."""
        from .streaming.refresh import fold_increment

        rv = self.catalog.get(name)
        if rv.state is None:
            raise QueryError(f"metric view {name!r} has no materialized state to fold into")
        delta = self._materialize_dims(rv.spec, delta_source_rows)
        try:
            for built in rv.state.rollups.values():
                fold_increment(self.spark, built, delta)
        finally:
            self._rollups._invalidate(os.path.join(self._rollups.storage_dir, name))
        if rv.state.baseline:
            self._compiler.baseline_projection(rv.spec, delta_source_rows).write.mode(
                "append"
            ).parquet(rv.state.baseline)

    def _materialize_dims(self, spec: MetricViewSpec, df: DataFrame) -> DataFrame:
        """Materialize any dimension whose NAME is not already a column
        (dim exprs like ``o_orderstatus`` aliased ``order_status``) —
        incremental folds group by dimension names. No-op for flattened
        relations."""
        from pyspark.sql import functions as F

        for d in spec.dimensions:
            if d.name not in df.columns:
                df = df.withColumn(
                    d.name,
                    F.expr(self._compiler._rewrite_dim_expr(spec, d.expr)),
                )
        return df

    def refresh_cdc(
        self, name: str, before: DataFrame, after: DataFrame
    ) -> None:
        """Fold an UPSERT/DELETE change batch into the view's rollups
        without a full recompute — the CDC complement of
        :meth:`refresh_incremental`: *before* carries the rows leaving
        the source (deletes + pre-images of updates), *after* the rows
        entering it (inserts + post-images), both in the shape of the
        view's filtered+joined source. Sum-family rollups retract
        exactly; min/max/sketch rollups are refused
        (``streaming/refresh.py::fold_retractions``). Baseline snapshots
        are append-only and cannot retract — a view with a baseline is
        refused (drop it or rebuild)."""
        from .streaming.refresh import fold_retractions

        rv = self.catalog.get(name)
        if rv.state is None:
            raise QueryError(
                f"metric view {name!r} has no materialized state to fold into"
            )
        if rv.state.baseline:
            raise QueryError(
                f"metric view {name!r} has an (append-only) baseline "
                f"snapshot — CDC folds cannot retract from it; rebuild "
                f"instead"
            )
        # pre-validate EVERY rollup before folding ANY: a mid-loop
        # refusal would leave some rollups folded and others stale (and a
        # retry would double-fold the batch)
        from .streaming.refresh import validate_retractable

        for built in rv.state.rollups.values():
            validate_retractable(built)
        b = self._materialize_dims(rv.spec, before)
        a = self._materialize_dims(rv.spec, after)
        try:
            for built in rv.state.rollups.values():
                fold_retractions(self.spark, built, b, a)
        finally:
            self._rollups._invalidate(os.path.join(self._rollups.storage_dir, name))

    def refresh_all(self) -> None:
        self._refresh_many(
            [
                name
                for name in self.catalog.names()
                if self.catalog.get(name).spec.materialization
            ]
        )

    def test(self, select: Optional[list[str]] = None) -> list:
        """``dbt test`` analogue: run every data check declared in model
        ``meta['checks']`` against the built models (``dbt_project.yml:9``
        declares test-paths; the four built-in schema tests + expression
        checks are supported — see ``checks.py``)."""
        from .checks import run_checks

        results = []
        for name in self.registry.names():
            if select is not None and name not in select:
                continue
            model = self.registry[name]
            declared = model.meta.get("checks")
            if not declared:
                continue
            results.extend(
                run_checks(name, self.ref(name), declared, resolve=self._resolve)
            )
        return results

    def build(
        self,
        select: Optional[list[str]] = None,
        materialize_rollups: bool = False,
        fail_fast: bool = True,
    ) -> tuple[dict[str, DataFrame], list]:
        """``dbt build`` analogue: run the (selected) models — graph
        selectors included — then every data check declared on the models
        that were actually built. With *fail_fast* (default, dbt's
        behavior) a failing check raises ``ModelError`` naming each
        failed test; otherwise the results come back for inspection.
        Returns ``(built_models, check_results)``."""
        from .models import ModelError

        built = self.run(select=select, materialize_rollups=materialize_rollups)
        # run() returns every model built in the SESSION (ref accumulates);
        # scope both the return value and the checks to this run's models
        this_run = list(self._runner.last_run_models)
        built = {n: built[n] for n in this_run if n in built}
        results = self.test(select=this_run)
        if fail_fast:
            failed = [r for r in results if not r.passed]
            if failed:
                detail = ", ".join(
                    f"{r.model}.{r.check} ({r.failures} rows)" for r in failed
                )
                raise ModelError(f"build: {len(failed)} data check(s) failed: {detail}")
        return built, results

    def source_freshness(
        self,
        model_name: str,
        ts_col: str,
        warn_after_s: float,
        error_after_s: Optional[float] = None,
        as_of: Any = None,
    ):
        """``dbt source freshness`` analogue over a built model/source —
        one aggregate pass; see ``checks.source_freshness``."""
        from .checks import source_freshness

        return source_freshness(
            model_name,
            self.ref(model_name),
            ts_col,
            warn_after_s,
            error_after_s=error_after_s,
            as_of=as_of,
        )

    def unit_test(self, model_name: str, given, expect):
        """dbt 1.8 ``unit_tests:`` analogue: run one model against mocked
        ``ref()`` inputs and multiset-diff the output; see
        ``checks.unit_test``."""
        from .checks import unit_test

        return unit_test(self.spark, self.registry, model_name, given, expect)

    @property
    def run_results(self) -> list:
        """Per-model outcomes of the most recent :meth:`run` (the dbt
        ``run_results.json`` content — model, materialization, status,
        duration)."""
        return list(self._runner.run_results)

    def write_catalog(self, path: str) -> str:
        """``dbt docs generate`` catalog artifact: every built model's
        column schema (taken from the lazy plan — metadata only, no
        scan), materialization and description, plus every registered
        metric view's dimensions/measures with their v1.1 semantic
        metadata (display names, synonyms, comments, formats). One JSON
        file a downstream docs site or LLM agent can consume."""
        import json

        models: dict[str, Any] = {}
        for name in self.registry.names():
            m = self.registry[name]
            try:
                cols = [
                    {"name": f.name, "type": f.dataType.simpleString()}
                    for f in self.ref(name).schema.fields
                ]
            except Exception:
                cols = []  # not built yet — still list the node
            models[name] = {
                "materialized": m.materialized,
                "description": m.description,
                "depends_on": list(m.deps),
                "columns": cols,
            }
        views: dict[str, Any] = {}
        for vname in self.catalog.names():
            spec = self.catalog.get(vname).spec
            views[vname] = {
                "source": spec.source,
                "version": spec.version,
                "description": spec.description,
                "filter": spec.filter,
                "dimensions": [
                    {
                        "name": d.name,
                        "expr": d.expr,
                        "display_name": d.display_name,
                        "comment": d.comment,
                        "synonyms": list(d.synonyms),
                    }
                    for d in spec.dimensions
                ],
                "measures": [
                    {
                        "name": ms.name,
                        "expr": ms.expr,
                        "display_name": ms.display_name,
                        "comment": ms.comment,
                        "synonyms": list(ms.synonyms),
                        "windowed": bool(ms.windows),
                        **(
                            {"format": {"type": ms.format.type,
                                        "currency_code": ms.format.currency_code}}
                            if ms.format
                            else {}
                        ),
                    }
                    for ms in spec.measures
                ],
            }
        with open(path, "w") as fh:
            json.dump({"models": models, "metric_views": views}, fh, indent=2)
        return path

    def write_run_results(self, path: str) -> str:
        """Write the dbt-style ``run_results.json`` artifact for the most
        recent run; returns *path*."""
        import json

        payload = {
            "results": [
                {
                    "model": r.model,
                    "materialized": r.materialized,
                    "status": r.status,
                    "duration_s": r.duration_s,
                    **({"message": r.message} if r.message else {}),
                }
                for r in self._runner.run_results
            ],
            "elapsed_s": round(
                sum(r.duration_s for r in self._runner.run_results), 4
            ),
        }
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)
        return path

    def save_catalog(self, directory: str) -> list[str]:
        """Export every registered metric view as a YAML spec file."""
        return self.catalog.save(directory)

    def load_catalog(self, directory: str) -> list[str]:
        """Register every YAML spec file in *directory* (CREATE OR
        REPLACE semantics)."""
        return self.catalog.load(directory)

    def write_manifest(self, path: str) -> dict[str, str]:
        """Persist model fingerprints — the ``--state`` artifact for
        slim-CI ``state:modified`` selection on a later run."""
        return self.registry.write_manifest(path)

    def load_state(self, path: str) -> None:
        """Load a prior manifest so ``run(select=['state:modified+'])``
        rebuilds only what changed (plus descendants) — dbt's slim CI."""
        self.registry.load_state(path)

    # ---------------- SQL front-end ----------------

    def sql(self, text: str) -> DataFrame:
        """``MEASURE()`` SQL front-end (``README.md:124-141``), plus WITH
        composition and plain-SQL fall-through (sql_frontend docstring):
        MEASURE() CTEs route through the metric compiler, the rest runs
        as ordinary Spark SQL — one entry point for every statement."""
        from .sql_frontend import execute_sql

        return execute_sql(self, text)

    def ref(self, name: str) -> DataFrame:
        return self._runner.ref(name)

"""Materialized rollups + aggregate routing.

Re-implements the reference's materialization layer
(``models/schema.yml:104-129``, ``README.md:326-352``) and its query
routing (``README.md:424-431``):

* ``type: unaggregated`` (**baseline**) — a persisted snapshot of the
  metric view's (filtered, joined) source. Serves *any* non-window query at
  cached-scan speed ("~1x (cached)", ``README.md:430``).
* ``type: aggregated`` — a persisted ``groupBy(rollup dims)`` carrying
  **partial states** (sum/count/min/max pairs — see
  ``functions/aggregates.py``) so a query grouping by any *subset* of the
  rollup's dimensions re-aggregates correctly ("10-100x faster",
  ``README.md:424-429``).

Routing rules (``README.md:424-431``):

1. window measures are never served from rollups — always on the fly;
2. an aggregated rollup is eligible iff query dims ⊆ rollup dims and every
   requested measure is stored (decomposable) in it; smallest eligible
   rollup wins;
3. otherwise the baseline snapshot if present;
4. otherwise the live source.

Serving: a routed read is dominated by Spark's per-job floor, not by the
|dim-combination| rows it touches. A rollup whose recorded ``n_rows`` is at
most :data:`LOCAL_ROLLUP_MAX_ROWS` is therefore read on the driver (pyarrow,
no Spark job) and served as a ``LocalRelation`` with the Spark schema pinned
from the parquet footer. Catalyst's ``ConvertToLocalRelation`` evaluates
filters and projections over it on the driver, so an exact-cover or
filter-only read runs no job at all; a re-aggregation reads it through
``coalesce(1)``, whose ``SinglePartition`` output needs no ``Exchange``
(one job, one task). Larger rollups keep a cached parquet scan. The driver
read assumes local-filesystem storage, as the swap-write below does.

Refresh (= ``scripts/refresh_metric_views.py`` semantics, O5 in SURVEY §2.7)
recomputes each rollup with write-temp-then-swap so readers never see a
half-written table; ``CREATE OR REPLACE`` of an unchanged spec preserves
rollup state (``macros/generate_metric_views.sql:78-79``). Every write of a
rollup (build, refresh, incremental and CDC folds) records the rows it
stored in ``BuiltRollup.n_rows``, and its served copy is dropped after
the write.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import Decomposition, decompose_aggregate, merge_column
from ..specs import MetricViewSpec, RollupSpec
from .compiler import (
    MetricQuery,
    QueryCompiler,
    QueryError,
    apply_derived,
    expand_derived,
)


@dataclass
class BuiltRollup:
    spec: RollupSpec
    path: str
    # measure name -> its decomposition (partial col layout in the table)
    decompositions: dict[str, Decomposition] = field(default_factory=dict)
    # stored row count, recorded by every write (build and folds) — the
    # router's cost estimate and the driver-side serving gate
    n_rows: Optional[int] = None


@dataclass
class MaterializationState:
    """Physical state backing one metric view's materialization block."""

    baseline: Optional[str] = None  # parquet path of the unaggregated snapshot
    rollups: dict[str, BuiltRollup] = field(default_factory=dict)


# Rollups of at most this many stored rows are served from the driver (see
# the module docstring). Break-even measured on 4 cores, local[4], with a
# 2-dim, 3-partial rollup: a warm re-aggregation through coalesce(1) over
# the LocalRelation costs the same as over the cached scan at ~10k rows
# (0.66x at 1k, 0.97-1.01x at 10k, 1.3x at 15k, 1.9x at 30k), because one
# task then does all the work; the first read after a write breaks even
# later (0.84x at 30k, 1.8x at 100k), since the cached path pays a
# cache-fill job.
LOCAL_ROLLUP_MAX_ROWS = 10_000

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _read_local(spark: SparkSession, path: str) -> Optional[DataFrame]:
    """Read a Spark-written parquet directory on the driver into a
    ``LocalRelation`` — no Spark job. None when the footer carries no
    Spark schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    # INT96 (Spark's TIMESTAMP encoding) read in microseconds: pyarrow's
    # nanosecond default overflows outside 1677-2262
    table = pq.read_table(path, coerce_int96_timestamp_unit="us")
    raw = (table.schema.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if raw is None:
        return None
    # pin the footer's Spark types (parquet alone cannot tell TIMESTAMP_NTZ
    # from an INT96 TIMESTAMP); stored TIMESTAMPs are UTC instants, so they
    # are marked UTC instead of being localized to the session time zone
    schema = StructType.fromJson(json.loads(raw))
    table = table.cast(to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of *df*'s optimized plan: driver-side, no
    job. Reached through the private ``_jdf`` chain."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _swap_write(df: DataFrame, spark: SparkSession, path: str) -> None:
    """Write parquet atomically-ish: temp dir, then swap into place."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def _write_counted(df: DataFrame, spark: SparkSession, path: str) -> int:
    """:func:`_swap_write` *df* and return the rows written, counted by an
    ``Observation`` that rides the write (no extra job)."""
    from pyspark.sql import Observation

    ob = Observation()
    _swap_write(df.observe(ob, F.count(F.lit(1)).alias("n")), spark, path)
    return int(ob.get["n"])


class WindowGrainProvider:
    """Serves window-measure *grain* aggregations from a covering rollup.

    Window measures themselves are never rollup-served (``README.md:431``
    — the frame + semiadditive reduction always runs at query time), but
    their input grain ``groupBy(dims × order).agg(partials)`` is just a
    re-aggregation problem: when some aggregated rollup's dims cover the
    grain columns (plus any WHERE-slice dims) and it stores partials for
    the same source expressions, the grain can be read from |rollup| rows
    instead of rescanning the fact. At 100 TB that turns e.g. a
    trailing-7d query into a rollup-sized sort. Purely an optimization:
    values are identical either way (partials merge associatively).
    """

    def __init__(self, mgr: "RollupManager", query: MetricQuery,
                 state: MaterializationState) -> None:
        self.mgr = mgr
        self.query = query
        self.state = state
        self.used: list[str] = []

    @staticmethod
    def _norm(expr: str) -> str:
        import re as _re

        return _re.sub(r"\s+", "", QueryCompiler.strip_source_prefix(expr)).lower()

    def __call__(self, grain_cols, needed):
        if getattr(self.query, "where_unresolved", False):
            return None  # WHERE references raw source columns — grain must scan them
        need_dims = set(grain_cols) | set(getattr(self.query, "where_dims", ()))
        candidates = sorted(
            self.state.rollups.values(),
            key=lambda b: (b.n_rows if b.n_rows is not None else float("inf"),
                           len(b.spec.dimensions)),
        )
        for built in candidates:
            if not need_dims <= set(built.spec.dimensions):
                continue
            stored: dict[str, tuple[str, str]] = {}
            for dec in built.decompositions.values():
                for e, c in dec.partials:
                    stored.setdefault(self._norm(e), (c, dec.merges[c]))
            sel: Optional[list[tuple[str, str, str]]] = []
            for p_expr, p_col, fn in needed:
                hit = stored.get(self._norm(p_expr))
                if hit is None or hit[1] != fn:
                    sel = None
                    break
                sel.append((p_col, hit[0], fn))
            if sel is None:
                continue
            df, local = self.mgr._read_rollup(built)
            if self.query.where:
                df = df.filter(F.expr(self.query.where))
            if local:
                # one partition: the window (and any re-aggregation) above
                # needs no Exchange
                df = df.coalesce(1)
            if set(built.spec.dimensions) == set(grain_cols):
                # stored rows ARE the grain — merging a single partial is
                # the identity, so project instead of re-aggregating (saves
                # one exchange; the window sort is then the plan's only
                # shuffle)
                out = df.select(
                    *[F.col(c) for c in grain_cols],
                    *[F.col(src).alias(p_col) for p_col, src, _fn in sel],
                )
            else:
                out = df.groupBy(*[F.col(c) for c in grain_cols]).agg(
                    *[merge_column(fn, src).alias(p_col) for p_col, src, fn in sel]
                )
            self.used.append(built.spec.name)
            return out
        return None


class RollupManager:
    """Builds, refreshes, and routes to a metric view's rollups."""

    def __init__(
        self,
        spark: SparkSession,
        compiler: QueryCompiler,
        storage_dir: str,
    ) -> None:
        self.spark = spark
        self.compiler = compiler
        self.storage_dir = storage_dir
        # rollup tables are |dim combinations| rows — keep each one's
        # DataFrame so a routed query costs no file listing / schema
        # inference: small ones as a driver-side LocalRelation (no Spark
        # job), larger ones as a cached scan. Guarded by a lock: refreshes
        # of different views may run concurrently (engine._refresh_many).
        import threading

        # path -> (rows, held on the driver)
        self._df_cache: dict[str, tuple[DataFrame, bool]] = {}
        self._cache_lock = threading.Lock()

    def _read_rollup(self, built: BuiltRollup) -> tuple[DataFrame, bool]:
        """The rollup's rows, and whether they are a driver-side
        LocalRelation (re-aggregate them through ``coalesce(1)``)."""
        with self._cache_lock:
            hit = self._df_cache.get(built.path)
            if hit is None:
                df = None
                if built.n_rows is not None and built.n_rows <= LOCAL_ROLLUP_MAX_ROWS:
                    df = _read_local(self.spark, built.path)
                if df is None:
                    hit = (self.spark.read.parquet(built.path).cache(), False)
                else:
                    hit = (df, True)
                self._df_cache[built.path] = hit
        return hit

    def _invalidate(self, path_prefix: str) -> None:
        """Forget the served copy of every rollup under *path_prefix*;
        call it after rewriting them."""
        with self._cache_lock:
            stale = [
                p for p in self._df_cache
                if p == path_prefix or p.startswith(path_prefix + os.sep)
            ]
            for p in stale:
                df, local = self._df_cache.pop(p)
                if not local:
                    try:
                        df.unpersist()
                    except Exception:
                        pass

    # ---------------- build / refresh ----------------

    def build(
        self,
        spec: MetricViewSpec,
        state: Optional[MaterializationState] = None,
        source_is_materialized: bool = False,
    ) -> MaterializationState:
        """(Re)compute every declared materialized view for *spec*.

        Equivalent of a Lakeflow pipeline refresh
        (``scripts/refresh_metric_views.py:109-119``): full recompute with
        write-then-swap. Incremental folding of new partitions into partial
        states lives in ``streaming/refresh.py``.

        The (filtered, joined) source is cached for the duration of the
        build so N rollups cost one source scan, not N.
        *source_is_materialized* marks a source that is already a physical
        table with no filter/joins/derived dims — its ``unaggregated``
        baseline would be a byte-identical copy, so the build skips it and
        the router's live path (which scans that same table) serves those
        queries at identical cost.
        """
        state = state or MaterializationState()
        if not spec.materialization:
            return state
        src = self.compiler.source_plan(spec)
        redundant_baseline = (
            source_is_materialized
            and not spec.filter
            and not spec.joins
            and all(d.expr == d.name for d in spec.dimensions)
        )
        rollup_specs = spec.materialization.materialized_views
        aggregated = [r for r in rollup_specs if r.type == "aggregated"]
        # the source has at most TWO consumers: the baseline snapshot write
        # and ONE aggregation pass (grouping sets batches every grain into a
        # single job; a lone rollup is likewise one job). Cache only when
        # both exist — caching for a single consumer just pays the
        # materialization cost with no reuse.
        writes_baseline = (
            any(r.type == "unaggregated" for r in rollup_specs) and not redundant_baseline
        )
        cache = writes_baseline and bool(aggregated)
        if cache:
            src = src.cache()
        try:
            for r in rollup_specs:
                if r.type == "unaggregated":
                    if redundant_baseline:
                        state.baseline = None  # router falls through to live
                        continue
                    path = self._path(spec.name, r.name)
                    _swap_write(
                        self.compiler.baseline_projection(spec, src), self.spark, path
                    )
                    state.baseline = path
            if len(aggregated) > 1:
                # single source pass for ALL grains via GROUPING SETS
                for name, built in self._build_grouping_sets(spec, aggregated, src).items():
                    state.rollups[name] = built
            else:
                for r in aggregated:
                    state.rollups[r.name] = self._build_aggregated(spec, r, src)
        finally:
            if cache:
                src.unpersist()
            self._invalidate(os.path.join(self.storage_dir, spec.name))
        return state

    def _build_grouping_sets(
        self, spec: MetricViewSpec, rollups: list[RollupSpec], src: DataFrame
    ) -> dict[str, BuiltRollup]:
        """Build every aggregated rollup from ONE aggregation job.

        ``df.groupingSets`` computes all grains in a single scan +
        shuffle; ``grouping_id()`` disambiguates which grain each output
        row belongs to (a real NULL dim value and a rolled-up dim are
        otherwise indistinguishable). Per-grain slices are then split to
        their own tables. At 100 TB this turns N full scans into one.
        """
        # flatten so every dim is a plain named column (same projection
        # the baseline snapshot uses); measure exprs lose their `source.`
        # qualifier accordingly
        flat = self.compiler.baseline_projection(spec, src)
        all_dims: list[str] = []
        for r in rollups:
            for d in r.dimensions:
                if d not in all_dims:
                    all_dims.append(d)

        decs_per_rollup: dict[str, dict[str, Decomposition]] = {}
        partial_cols: dict[str, str] = {}
        for r in rollups:
            decs: dict[str, Decomposition] = {}
            for mname in r.measures:
                m = spec.measure(mname)
                expr = self.compiler.strip_source_prefix(m.expr)
                dec = decompose_aggregate(expr, prefix=f"_p_{mname}")
                if dec is None:
                    raise QueryError(
                        f"rollup {r.name!r}: measure {mname!r} ({m.expr}) is not "
                        f"decomposable into partial states — serve it from baseline"
                    )
                decs[mname] = dec
                for p_expr, p_col in dec.partials:
                    partial_cols[p_col] = p_expr
            decs_per_rollup[r.name] = decs

        sets = [[d for d in all_dims if d in r.dimensions] for r in rollups]
        merge_fns: dict[str, str] = {}
        for decs in decs_per_rollup.values():
            for dec in decs.values():
                for c, fn in dec.merges.items():
                    merge_fns.setdefault(c, fn)
        out: dict[str, BuiltRollup] = {}
        # cost-based switch for the two-level shape below: the fine-grain
        # pre-aggregation adds one exchange, which only pays off when the
        # source is large enough that Expand-duplicating it dominates.
        # Catalyst's own size estimate (driver-side, no job) decides —
        # the same statistic autoBroadcastJoinThreshold trusts. The
        # measured break-even on this workload sits between an ~11 MiB
        # estimate (600k-row pricing source: two-level 0.98×, a wash)
        # and ~20 MiB (6M-row replica: 0.66×); 16 MiB splits them.
        # Estimates are compressed-file-sized, so any real table is
        # orders of magnitude above the constant — it only matters at
        # toy scale, where the direct grouping sets avoid paying an
        # extra job-floor exchange. Estimation failure falls back to
        # two-level (the scale-safe default); tests pin the private chain
        # in _estimated_bytes, so a Spark upgrade that breaks it fails them
        # instead of silently flipping every build to two-level.
        try:
            src_bytes = _estimated_bytes(flat)
        except Exception:
            src_bytes = 1 << 62
        two_level_worthwhile = src_bytes >= 16 * 1024 * 1024
        if (
            two_level_worthwhile
            and all_dims
            and all(sets)
            and all(c in merge_fns for c in partial_cols)
        ):
            # Two-level aggregation (guide §1.2/§2.3): GROUPING SETS over
            # the source Expand-duplicates every input row once per grain
            # (G× rows into the hash aggregate — measured ~2x the
            # single-grain aggregate's time on the 6M-row pricing
            # replica). Instead, ONE aggregation at the union-of-dims
            # FINE grain collapses the source without row duplication,
            # and the grouping sets run over the (|dim-combination|-row)
            # fine table with each partial's MERGE function — valid
            # because partial states re-aggregate associatively by
            # construction (the same property the router and the
            # incremental folds rely on). A/B on the 6M-row pricing
            # replica: 0.66×; on the (much smaller) order-metrics build
            # the extra exchange costs ~0.1 s of local job floor — a
            # small-scale artifact: the fine grain's cardinality is
            # data-independent, so its collapse ratio (and the win) grows
            # with the source. Per-grain cached re-aggregation (no
            # grouping sets at all) was also tried and measured WORSE
            # (serial re-agg jobs, 1.37× on order-metrics). Fallback to
            # direct grouping sets for a zero-dimension grain: a
            # global-aggregate set emits one row even on empty input,
            # where the merge level would turn count-partials of an
            # empty source into NULL instead of 0.
            fine = flat.groupBy(*[F.col(d) for d in all_dims]).agg(
                *[F.expr(e).alias(c) for c, e in partial_cols.items()]
            )
            grouped = fine.groupingSets(sets, *[F.col(d) for d in all_dims]).agg(
                *[merge_column(merge_fns[c], c).alias(c) for c in partial_cols],
                F.grouping_id().alias("_gid"),
            )
        else:
            grouped = flat.groupingSets(sets, *[F.col(d) for d in all_dims]).agg(
                *[F.expr(e).alias(c) for c, e in partial_cols.items()],
                F.grouping_id().alias("_gid"),
            )
        # cache unconditionally (VERDICT r10 #2): the slice writes AND the
        # one-job gid row-count below all re-read `grouped`; for a single
        # rollup the uncached path recomputed the full aggregate per
        # consumer
        grouped = grouped.cache()
        try:
            # every grain's row count in ONE job over the cached grouping
            # sets (the router's cost estimate) — the old per-rollup
            # parquet read-back ran one count job per grain
            gid_counts = {
                int(row["_gid"]): int(row["count"])
                for row in grouped.groupBy("_gid").count().collect()
            }
            n = len(all_dims)
            for r in rollups:
                # grouping_id: leftmost grouping column = most significant
                # bit; bit set ⇔ column aggregated away in this grain
                gid = sum(
                    1 << (n - 1 - i)
                    for i, d in enumerate(all_dims)
                    if d not in r.dimensions
                )
                decs = decs_per_rollup[r.name]
                cols = list(r.dimensions) + [
                    p for dec in decs.values() for _, p in dec.partials
                ]
                seen: set[str] = set()
                cols = [c for c in cols if not (c in seen or seen.add(c))]
                slice_df = grouped.filter(F.col("_gid") == gid).select(*cols)
                path = self._path(spec.name, r.name)
                _swap_write(slice_df, self.spark, path)
                out[r.name] = BuiltRollup(
                    spec=r,
                    path=path,
                    decompositions=decs,
                    n_rows=gid_counts.get(gid, 0),
                )
        finally:
            grouped.unpersist()
        return out

    def _path(self, mv_name: str, rollup_name: str) -> str:
        return os.path.join(self.storage_dir, mv_name, rollup_name)

    def _build_aggregated(
        self, spec: MetricViewSpec, r: RollupSpec, src: DataFrame
    ) -> BuiltRollup:
        decs: dict[str, Decomposition] = {}
        partial_cols: dict[str, str] = {}  # col name -> source expr
        for mname in r.measures:
            m = spec.measure(mname)
            dec = decompose_aggregate(m.expr, prefix=f"_p_{mname}")
            if dec is None:
                raise QueryError(
                    f"rollup {r.name!r}: measure {mname!r} ({m.expr}) is not "
                    f"decomposable into partial states — serve it from baseline"
                )
            decs[mname] = dec
            for p_expr, p_col in dec.partials:
                partial_cols[p_col] = p_expr
        dim_cols = [
            F.expr(self.compiler._rewrite_dim_expr(spec, spec.dimension(d).expr)).alias(d)
            for d in r.dimensions
        ]
        agg_cols = [F.expr(e).alias(c) for c, e in partial_cols.items()]
        rolled = src.groupBy(*dim_cols).agg(*agg_cols)
        path = self._path(spec.name, r.name)
        # the router's row-count cost estimate rides the write as an
        # observed metric instead of a separate parquet read-back job
        n_rows = _write_counted(rolled, self.spark, path)
        self._invalidate(path)
        return BuiltRollup(spec=r, path=path, decompositions=decs, n_rows=n_rows)

    def drop(self, spec_name: str) -> None:
        d = os.path.join(self.storage_dir, spec_name)
        self._invalidate(d)
        if os.path.exists(d):
            shutil.rmtree(d)

    # ---------------- routing ----------------

    def route(
        self, query: MetricQuery, state: Optional[MaterializationState]
    ) -> tuple[str, Optional[BuiltRollup]]:
        """Pick the physical source for *query*: ('rollup'|'baseline'|'live').

        Derived measures route on their DEPENDENCIES (the derived value
        is never stored), so the expansion happens before eligibility."""
        query, _ = expand_derived(query)
        spec = query.spec
        if state is None:
            return "live", None
        windowed = any(spec.measure(m).is_windowed for m in query.measures)
        if not windowed and not getattr(query, "where_unresolved", False):
            # a WHERE slice is evaluated on the rollup's stored dim columns
            # before re-aggregation, so eligibility needs the rollup to
            # cover the slice's dims as well as the grouped ones; a WHERE
            # naming raw source columns (where_unresolved) can only run on
            # live/baseline, where those columns exist
            need_dims = set(query.dimensions) | set(getattr(query, "where_dims", ()))
            candidates = [
                b
                for b in state.rollups.values()
                if need_dims <= set(b.spec.dimensions)
                and set(query.measures) <= set(b.spec.measures)
            ]
            if candidates:
                # cost-based pick: fewest stored rows wins (recorded at
                # build); dim count is the fallback proxy
                best = min(
                    candidates,
                    key=lambda b: (
                        b.n_rows if b.n_rows is not None else float("inf"),
                        len(b.spec.dimensions),
                    ),
                )
                return "rollup", best
        if state.baseline:
            return "baseline", None
        return "live", None

    def compile_routed(
        self, query: MetricQuery, state: Optional[MaterializationState]
    ) -> tuple[DataFrame, str]:
        """Compile *query* against the best physical source; returns
        (plan, route) where route ∈ {'rollup:<name>', 'baseline', 'live'}
        (or 'rollup:<name>+<route>' for a split mixed query).

        Window measures are never rollup-served (``README.md:431``), but a
        mixed query (plain + window measures) need not go fully live: the
        plain measures route to a covering rollup and join on the query
        dims with the on-the-fly window plan. At scale this replaces one of
        the two full source scans with a |dim-combination|-row read.

        Derived measures compile through their dependency query (every
        route, including splits, is decided on the dependencies) and are
        projected post-aggregation.
        """
        inner, proj = expand_derived(query)
        if proj is not None:
            df, route = self.compile_routed(inner, state)
            return apply_derived(df, query, proj), route
        route, built = self.route(query, state)
        if route == "rollup":
            assert built is not None
            return self._compile_from_rollup(query, built), f"rollup:{built.spec.name}"
        split = self._compile_split_mixed(query, state)
        if split is not None:
            return split
        provider = None
        if (
            state is not None
            and state.rollups
            and any(query.spec.measure(m).is_windowed for m in query.measures)
        ):
            provider = WindowGrainProvider(self, query, state)

        def _with_grain(r: str) -> str:
            if provider and provider.used:
                return f"{r}+grain:{','.join(provider.used)}"
            return r

        if route == "baseline":
            assert state is not None and state.baseline
            # the snapshot already has filter+joins applied and dims
            # materialized — expand in flattened mode (no re-join/re-filter)
            base = self.spark.read.parquet(state.baseline)
            df = self.compiler.compile(
                query, source_df=base, flattened=True,
                window_grain_provider=provider,
            )
            return df, _with_grain("baseline")
        df = self.compiler.compile(query, window_grain_provider=provider)
        return df, _with_grain("live")

    def _compile_split_mixed(
        self, query: MetricQuery, state: Optional[MaterializationState]
    ) -> Optional[tuple[DataFrame, str]]:
        """Split a mixed plain+window query when a rollup covers the plain
        part; None when not applicable (not mixed, or no covering rollup).

        Both sides group the same source by the same dims, so the dim-combo
        sets are identical — an inner null-safe equi-join reassembles the
        row. The rollup side is tiny (≤ |dim combos| rows) and broadcasts.
        """
        if state is None:
            return None
        spec = query.spec
        plain = tuple(m for m in query.measures if not spec.measure(m).is_windowed)
        windowed = tuple(m for m in query.measures if spec.measure(m).is_windowed)
        if not plain or not windowed:
            return None
        pq = MetricQuery(spec, query.dimensions, plain, where=query.where)
        proute, pbuilt = self.route(pq, state)
        if proute != "rollup":
            return None
        left = self._compile_from_rollup(pq, pbuilt).alias("_p")
        wq = MetricQuery(spec, query.dimensions, windowed, where=query.where)
        right, wroute = self.compile_routed(wq, state)
        right = right.alias("_w")
        dims = list(query.dimensions)
        if dims:
            cond = F.lit(True)
            for d in dims:
                cond = cond & F.col(f"_p.{d}").eqNullSafe(F.col(f"_w.{d}"))
            joined = F.broadcast(left).join(right, cond, "inner")
        else:
            joined = left.crossJoin(right)
        out = joined.select(
            *[F.col(f"_p.{d}").alias(d) for d in dims],
            *[
                F.col(f"_p.{m}") if m in plain else F.col(f"_w.{m}")
                for m in query.measures
            ],
        )
        return out, f"rollup:{pbuilt.spec.name}+{wroute}"

    def _compile_from_rollup(self, query: MetricQuery, built: BuiltRollup) -> DataFrame:
        """Re-aggregate partial states over the query's dimension subset.

        The rollup table's dim columns are already named — no expression
        re-evaluation; merging is ``sum``/``min``/``max`` of partial
        columns, then each measure's finalize expression.
        """
        df, local = self._read_rollup(built)
        if query.where:
            # rollup tables store every dim under its declared name, so the
            # slice filters stored rows directly — before re-aggregation,
            # which is what makes slicing on a non-grouped dim correct
            df = df.filter(F.expr(query.where))
        if set(query.dimensions) == set(built.spec.dimensions):
            # exact cover: stored rows are already at the query grain — no
            # re-aggregation, the plan is a single-stage projection with
            # zero exchanges (matters at any scale: no shuffle, no codegen
            # for an aggregate). Over a LocalRelation the optimizer folds
            # filter and projection on the driver: no job at all.
            return df.select(
                *[F.col(d) for d in query.dimensions],
                *[
                    F.expr(built.decompositions[m].finalize).alias(m)
                    for m in query.measures
                ],
            )
        agg_cols: list = []
        seen: set[str] = set()
        for mname in query.measures:
            dec = built.decompositions[mname]
            for p_col in dec.merges:
                if p_col not in seen:
                    seen.add(p_col)
                    agg_cols.append(merge_column(dec.merges[p_col], p_col).alias(p_col))
        if local:
            # one partition (SinglePartition): no Exchange for the groupBy
            df = df.coalesce(1)
        merged = df.groupBy(*[F.col(d) for d in query.dimensions]).agg(*agg_cols)
        out_cols = [F.col(d) for d in query.dimensions] + [
            F.expr(built.decompositions[m].finalize).alias(m) for m in query.measures
        ]
        return merged.select(*out_cols)

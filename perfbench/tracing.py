"""Spans for the traced run, and per-op Spark metrics from the event log.

A span is (name, start, end, parent, op id). Spans are kept in memory and
written out when the benchmark exits. A span's self time is its duration
minus the part of its interval that its child spans cover.

Program layers are timed from outside: :meth:`Tracer.wrap_layers`
replaces the public entry points of each layer module with a wrapper that
opens a span, and :meth:`Tracer.unwrap` puts the originals back. Spark's
own work is attributed offline: each op runs under a Spark job tag, and
the event log (enabled for the traced run only, through
``PYSPARK_SUBMIT_ARGS``) joins ``SparkListenerJobStart`` tags to the task
metrics of the job's stages.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module path, attribute path, span name): the public entry point of each
# layer the benchmark attributes time to.
LAYER_ENTRY_POINTS = [
    ("dbt_databricks_metrics_spark.sql_frontend", "execute_sql", "sql_frontend"),
    ("dbt_databricks_metrics_spark.plans.rollup", "RollupManager.route", "plans.rollup.route"),
    ("dbt_databricks_metrics_spark.plans.rollup", "RollupManager.compile_routed",
     "plans.rollup.compile_routed"),
    ("dbt_databricks_metrics_spark.plans.rollup", "RollupManager.build", "plans.rollup.build"),
    ("dbt_databricks_metrics_spark.plans.compiler", "QueryCompiler.compile",
     "plans.compiler.compile"),
    ("dbt_databricks_metrics_spark.models", "Runner.run", "models.run"),
    ("dbt_databricks_metrics_spark.streaming.refresh", "fold_retractions",
     "streaming.refresh.fold_retractions"),
    ("dbt_databricks_metrics_spark.ext.pipeline", "curation_v2_stats", "ext.pipeline.curation_v2_stats"),
    ("dbt_databricks_metrics_spark.ext.dedup", "minhash_lsh_pairs", "ext.dedup.minhash_lsh_pairs"),
    ("dbt_databricks_metrics_spark.ext.ssjoin", "ssjoin_pairs", "ext.ssjoin.ssjoin_pairs"),
    ("dbt_databricks_metrics_spark.ext.substr", "dedup_exact_substrings",
     "ext.substr.dedup_exact_substrings"),
    ("dbt_databricks_metrics_spark.ext.contamination", "ngram_contamination",
     "ext.contamination.ngram_contamination"),
    ("dbt_databricks_metrics_spark.ext.search", "bm25_search", "ext.search.bm25_search"),
    ("dbt_databricks_metrics_spark.ext.search", "rerank_top_k", "ext.search.rerank_top_k"),
    ("dbt_databricks_metrics_spark.ext.kmeans", "kmeans_cluster_stats",
     "ext.kmeans.kmeans_cluster_stats"),
]


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent index, op id]
        self.op_id: int | None = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        # which side of the rollup build gate the builds now running take;
        # the workload sets it, since it knows which source it refreshes
        self.build_side = "direct"

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = [name, time.perf_counter(), None, stack[-1] if stack else None, self.op_id]
        idx = len(self.spans)
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            rec[2] = time.perf_counter()

    def wrap_layers(self) -> None:
        import importlib

        for module, attr, name in LAYER_ENTRY_POINTS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            setattr(owner, leaf, self._wrapper(orig, name))
            self._patched.append((owner, leaf, orig))

    def _wrapper(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            label = name
            if name == "plans.rollup.build":
                label = f"{name}.{self._build_path(args[1])}"
            with self.span(label):
                return fn(*args, **kwargs)

        return traced

    def _build_path(self, spec) -> str:
        """``single`` for a view with one aggregated rollup, else the side
        of the build gate the workload declared (:attr:`build_side`)."""
        views = spec.materialization.materialized_views if spec.materialization else []
        if sum(1 for r in views if r.type == "aggregated") <= 1:
            return "single"
        return self.build_side

    def unwrap(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------

    def per_op_self_ms(self) -> dict[int, dict[str, float]]:
        """op id -> span name -> summed self time (ms) within that op."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children[s[3]].append(i)
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, (name, start, end, _parent, op) in enumerate(self.spans):
            if op is None or end is None:
                continue
            covered = _union_length(
                [(self.spans[c][1], self.spans[c][2]) for c in children[i]
                 if self.spans[c][2] is not None]
            )
            out[op][name] += ((end - start) - covered) * 1000.0
        return out

    def per_op_total_ms(self) -> dict[int, dict[str, float]]:
        """op id -> span name -> summed wall time (ms), outermost spans of
        that name only (a recursive call is not counted twice)."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for name, start, end, parent, op in self.spans:
            if op is None or end is None:
                continue
            p, nested = parent, False
            while p is not None:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                out[op][name] += (end - start) * 1000.0
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "op": o}
                    for n, s, e, p, o in self.spans
                ],
                fh,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def event_log_submit_args(log_dir: str) -> str:
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
    )


def spark_metrics_by_tag(log_dir: str, prefix: str) -> dict[str, dict[str, float]]:
    """Parse every event log under *log_dir*; return, for each job tag that
    starts with *prefix*, the jobs, stages and tasks it ran and the summed
    task metrics. ``exec_ms`` is the union of the tagged jobs' wall
    intervals."""
    job_tag: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    tag = next((t for t in tags.split(",") if t.startswith(prefix)), None)
                    if tag is None:
                        continue
                    jid = ev["Job ID"]
                    job_tag[jid] = tag
                    job_span[jid] = [ev["Submission Time"], ev["Submission Time"]]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, tag in job_tag.items():
        out[tag]["jobs"] += 1
        spans[tag].append(tuple(job_span[jid]))
    stages: dict[str, set[int]] = defaultdict(set)
    for sid, m in tasks:
        jid = stage_job.get(sid)
        if jid is None or jid not in job_tag:
            continue
        tag = job_tag[jid]
        stages[tag].add(sid)
        rec = out[tag]
        rec["tasks"] += 1
        inp = m.get("Input Metrics") or {}
        rec["input_bytes"] += inp.get("Bytes Read", 0)
        rec["input_records"] += inp.get("Records Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        rec["gc_ms"] += m.get("JVM GC Time", 0)
    for tag, ivs in spans.items():
        out[tag]["stages"] = len(stages[tag])
        out[tag]["exec_ms"] = _union_length(ivs)
    return out

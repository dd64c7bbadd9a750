"""Per-layer metrics of a traced run.

Every workload prints every metric below; a layer a workload never enters
reads 0. Times are medians over the traced ops that entered the layer;
Spark counts and bytes are means per traced op.
"""

from __future__ import annotations

from .tracing import spark_metrics_by_tag
from .workloads import MAINTAIN_CURATION
from .workloads import median as _med

MODELS = ["fct_orders", "fct_customer_summary", "stg_lineitem"]
BUILD_PATHS = ["direct", "two_level", "single"]


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer_metrics(h, wl, event_dir: str, extra: dict) -> dict[str, tuple[float, str]]:
    ops = [r for r in h.ops if r["traced"]]
    self_ms = h.tracer.per_op_self_ms()
    total_ms = h.tracer.per_op_total_ms()
    spark = spark_metrics_by_tag(event_dir, "pbop-")

    def layer(table, name):
        return _med([table[r["id"]][name] for r in ops if name in table.get(r["id"], {})])

    def sparks(field):
        return [spark.get(f"pbop-{r['id']}", {}).get(field, 0.0) for r in ops]

    routed = [r for r in h.ops if r.get("route") not in (None, "sql")]
    rows_out = sum(len(r["out"][1]) for r in ops
                   if isinstance(r.get("out"), tuple) and len(r["out"]) == 2)
    folds = [r for r in ops if "bytes_written" in r]
    m: dict[str, tuple[float, str]] = {
        "sql_frontend.self_ms": (layer(self_ms, "sql_frontend"), "ms"),
        "plans.rollup.route_ms": (layer(total_ms, "plans.rollup.route"), "ms"),
        "plans.rollup.compile_routed.self_ms": (layer(self_ms, "plans.rollup.compile_routed"), "ms"),
        "plans.rollup.hit_frac": (
            _mean([1.0 if r["route"].startswith("rollup:") else 0.0 for r in routed]), "ratio"),
        "plans.compiler.compile_ms": (layer(total_ms, "plans.compiler.compile"), "ms"),
        "catalyst.plan_ms": (layer(total_ms, "catalyst.plan"), "ms"),
        "spark.exec_ms": (_med(sparks("exec_ms")), "ms"),
        "spark.jobs": (_mean(sparks("jobs")), "count"),
        "spark.stages": (_mean(sparks("stages")), "count"),
        "spark.tasks": (_mean(sparks("tasks")), "count"),
        "spark.input_bytes": (_mean(sparks("input_bytes")), "bytes"),
        "spark.shuffle_write_bytes": (_mean(sparks("shuffle_write_bytes")), "bytes"),
        "spark.rows_read_per_row_returned": (
            sum(sparks("input_records")) / rows_out if rows_out else 0.0, "ratio"),
        "spark.spill_bytes": (_mean(sparks("spill_bytes")), "bytes"),
        "spark.gc_ms": (_mean(sparks("gc_ms")), "ms"),
        "models.run_ms": (total_ms.get("setup", {}).get("models.run", 0.0), "ms"),
        "streaming.refresh.fold_retractions_ms": (
            layer(total_ms, "streaming.refresh.fold_retractions"), "ms"),
        "storage.bytes_written_per_change_byte": (
            sum(r["bytes_written"] for r in folds) / sum(r["change_bytes"] for r in folds)
            if folds else 0.0, "ratio"),
    }
    results = {r.model: r.duration_s for r in wl.eng.run_results} if hasattr(wl, "eng") else {}
    for model in MODELS:
        m[f"models.{model}_ms"] = (results.get(model, 0.0) * 1000.0, "ms")
    builds: dict[str, list[float]] = {p: [] for p in BUILD_PATHS}
    for name, start, end, _parent, _op in h.tracer.spans:
        if name.startswith("plans.rollup.build.") and end is not None:
            builds[name.rsplit(".", 1)[1]].append((end - start) * 1000.0)
    for path in BUILD_PATHS:
        m[f"plans.rollup.build_ms.{path}"] = (_med(builds[path]), "ms")
    # the curation operators maintain runs; curate's others print on its summary line
    for kind in MAINTAIN_CURATION:
        m[f"{kind}_ms"] = (_med([r["ms"] for r in ops if r["kind"] == kind]), "ms")
    m["ext.dedup.lsh_precision"] = (extra.get("lsh_precision", 0.0), "ratio")
    m["trace.overhead_frac"] = (h.overhead_frac(), "ratio")
    return m

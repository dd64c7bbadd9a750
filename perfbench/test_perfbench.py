"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/ -q -p no:cacheprovider

The fast tests need no Spark. The smoke tests start the benchmark from the
command line in BENCHMARK.json, on a tiny star schema, and take about a
minute per run.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.oracle import Oracle
from perfbench.tracing import Tracer, spark_metrics_by_tag
from perfbench.workloads import SERVE_TEMPLATES, Harness, Serve

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _write_inputs(seed: int, out: str) -> list[str]:
    tables = gen.tpch_tables(seed, 0.002)
    gen.write_tables(tables, os.path.join(out, "tpch"))
    c = gen.curation_corpus(seed, 200)
    gen.write_tables({"corpus": c["corpus"], "eval": c["eval"]}, os.path.join(out, "corpus"))
    batch = gen.cdc_batches(tables["lineitem"], seed, 2, 20)[0]
    gen.write_tables({"cdc": gen.apply_batch(tables["lineitem"], batch)}, os.path.join(out, "cdc"))
    with open(os.path.join(out, "queries.json"), "w") as fh:
        json.dump(gen.query_rounds(seed, list(SERVE_TEMPLATES), 3), fh)
    return sorted(
        os.path.relpath(os.path.join(d, f), out) for d, _s, fs in os.walk(out) for f in fs
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    files = _write_inputs(7, str(a))
    assert files == _write_inputs(7, str(b))
    assert _write_inputs(8, str(c)) == files
    same = [filecmp.cmp(a / f, b / f, shallow=False) for f in files]
    other = [filecmp.cmp(a / f, c / f, shallow=False) for f in files]
    assert all(same)
    # region/nation are fixed dimension tables; everything else moves
    assert not any(o for f, o in zip(files, other) if "region" not in f and "nation" not in f)


def test_planted_near_dups_are_near(tmp_path):
    c = gen.curation_corpus(3, 400)
    texts = c["corpus"].column("text").to_pylist()
    sims = [gen.char_shingle_jaccard(texts[a], texts[b]) for a, b in c["near_pairs"]]
    assert sum(s >= 0.8 for s in sims) >= len(sims) // 2
    assert all(gen.char_shingle_jaccard(texts[a], texts[b]) == 1.0 for a, b in c["exact_pairs"])


def _serve_with_answers(tmp_path, seed=5):
    h = Harness(str(tmp_path), seed, 1.0, traced=False)
    serve = Serve(h, 0.002)
    serve.data = gen.write_tables(gen.tpch_tables(seed, 0.002), str(tmp_path / "data"))
    oracle = Oracle(serve.data)
    lits = gen.query_rounds(seed, list(SERVE_TEMPLATES), 1)[0]
    for name, lit in lits:
        sql = SERVE_TEMPLATES[name][2].format(**lit)
        h.ops.append({"id": len(h.ops), "kind": SERVE_TEMPLATES[name][0], "traced": False,
                      "template": name, "lit": lit, "error": None, "ms": 1.0,
                      "out": oracle.answer(sql)})
    oracle.close()
    return h, serve


def test_check_accepts_the_expected_answers(tmp_path):
    h, serve = _serve_with_answers(tmp_path)
    serve.check()
    assert h.fail_count() == 0


def test_corrupted_answer_counts_as_failure(tmp_path):
    h, serve = _serve_with_answers(tmp_path)
    rec = next(r for r in h.ops if r["template"] == "pricing_flag_status")
    cols, rows = rec["out"]
    i = cols.index("sum_qty")
    rows[0] = rows[0][:i] + (rows[0][i] + 1.0,) + rows[0][i + 1:]
    serve.check()
    assert h.fail_count() == 1 and rec["ok"] is False


def test_self_time_subtracts_covered_children():
    t = Tracer()
    t.enabled, t.op_id = True, 0
    t.spans = [
        ["op", 0.0, 1.0, None, 0],
        ["child", 0.1, 0.4, 0, 0],
        ["child", 0.3, 0.5, 0, 0],  # overlaps the first child
        ["grandchild", 0.2, 0.3, 1, 0],
    ]
    self_ms = t.per_op_self_ms()[0]
    assert self_ms["op"] == pytest.approx(600.0)
    assert self_ms["child"] == pytest.approx(200.0 + 200.0)
    assert self_ms["grandchild"] == pytest.approx(100.0)


def test_event_log_joins_job_tags_to_task_metrics(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 100,
         "Stage IDs": [0, 1], "Properties": {"spark.job.tags": "other,pbop-3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 100,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Input Metrics": {"Bytes Read": 10, "Records Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2, "JVM GC Time": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 130},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events))
    m = spark_metrics_by_tag(str(tmp_path), "pbop-")
    assert set(m) == {"pbop-3"}
    assert dict(m["pbop-3"]) == {
        "jobs": 1, "tasks": 1, "stages": 1, "exec_ms": 30, "input_bytes": 10,
        "input_records": 4, "shuffle_write_bytes": 7, "spill_bytes": 3, "gc_ms": 5,
    }


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, *BENCH["command"][1:], "--workload", "serve",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout.strip() == ""


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, *BENCH["command"][1:], "--workload", workload, "--seed", "2",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.002"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    summary, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert summary["summary"]["seed"] == 2
    return {"summary": summary, "result": result}


# curate is not in BENCHMARK.json (see README.md) but stays runnable by hand
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["curate"])
def test_smoke_every_workload(workload):
    out = _run(workload, 0)
    res = out["result"]
    assert res["failed"] == 0 and res["correct"] and res["attempted"] >= 1
    assert out["summary"]["summary"]["fail_frac"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    units = out["summary"]["units"]
    assert all(k in out["summary"]["summary"] for k in units)


# layer metrics each traced workload must move off 0
TRACED_NONZERO = {
    "serve": ["sql_frontend.self_ms", "plans.rollup.route_ms", "plans.compiler.compile_ms",
              "catalyst.plan_ms", "spark.exec_ms", "spark.jobs", "models.run_ms"],
    "maintain": ["plans.rollup.route_ms", "spark.exec_ms", "models.run_ms",
                 "plans.rollup.build_ms.direct", "plans.rollup.build_ms.two_level",
                 "streaming.refresh.fold_retractions_ms",
                 "storage.bytes_written_per_change_byte", "ext.dedup.lsh_precision",
                 *[m["name"] for m in BENCH["per_layer"] if m["name"].startswith("ext.")]],
}


@pytest.mark.parametrize("workload", sorted(TRACED_NONZERO))
def test_smoke_traced_run_prints_every_layer_metric(workload):
    res = _run(workload, 1)["result"]
    assert res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in TRACED_NONZERO[workload]:
        assert m[name] > 0, name
    if workload == "serve":
        assert 0 < m["plans.rollup.hit_frac"] < 1
